package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling and per-group quota operators for corpus
  * curation (down-sampling over-represented domains/languages is a
  * standard step when mixing a training corpus).
  *
  * All operators key on an md5-derived hash of a stable id — NOT
  * `rand()` — so a sample is (a) reproducible run-to-run regardless of
  * partitioning/AQE re-splits, (b) reproducible engine-to-engine (a SQL
  * oracle recomputes the identical sample), and (c) consistent across
  * scale-ups: re-sampling a grown corpus keeps every previously kept
  * row whose hash still clears the rate (important for incremental
  * pipeline runs — the kept set only grows, never churns).
  */
object Sampling {

  // DSIR hashed-feature frame: referenced by both the histogram pass
  // and the score join — persisting halves the md5 feature hashing
  // (the dominant cost; see PersistSlot for the eviction contract).
  private val dsirPersist = new PersistSlot

  /** The ONE copy of the engine-portable 60-bit md5 hash (review r11:
    * featureBucket, hashFrac, and epochShuffle each inlined the
    * substring-1..15 / base-16-conv / long-cast recipe — the
    * cross-engine bit-identity depends on all of them agreeing).
    * DuckDB: `('0x' || substr(md5(x), 1, 15))::UBIGINT`. */
  private[ops] def hash60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** 60-bit md5 hash of a feature string, mod `buckets` — the
    * engine-portable hashed-featurizer cell. Codegen'd end-to-end
    * (conv/substring/md5 are native Spark expressions), a pure
    * map-side computation. */
  def featureBucket(f: Column, buckets: Int): Column =
    hash60(f) % buckets

  /** Uniform bucket in [0, 10000) from the md5 of the id rendered as
    * a string — the deterministic ORDERING key for quota ranks
    * ([[groupQuota]]; ties broken by id, so the 1/10^4 granularity
    * never costs exactness there). For RATE comparisons use
    * [[hashFrac]]: a bucket threshold floors any rate below 5e-5 to
    * an empty sample. */
  def hashBucket(id: Column): Column =
    featureBucket(id.cast("string"), 10000)

  private val TwoPow60 = 1152921504606846976.0 // 2^60, exact in double

  /** Uniform fraction in [0, 1) from the full 60-bit md5 hash of the
    * id — the RATE-comparison key (review r9: the 10^4-bucket
    * threshold silently zeroed rates < 5e-5 and misstated rates near
    * 1e-4 by up to 50%; the fraction resolves to ~8.7e-19). Engine-
    * portable: both engines convert the same int64 to double (IEEE
    * round-to-nearest) and divide by the exact power 2^60, so the
    * fraction — and every `< rate` decision — is bit-identical. NULL
    * ids hash to NULL and fail every comparison: rows with a null
    * sampling key are dropped even at rate 1.0 — sampling keys must
    * be non-null upstream. */
  def hashFrac(id: Column): Column = hashFrac(id, "")

  /** [[hashFrac]] under a salt: a DIFFERENT uniform fraction per salt,
    * still deterministic. COMPOSITION hazard (review r11): every
    * unsalted rate sampler shares one hashFrac(id), so chained
    * samplers are fully correlated — bernoulli(0.5) then
    * bernoulli(0.5) keeps min(r1,r2)=50%, not 25%, and
    * groupQuotaApprox after an upstream sample overshoots its cap by
    * 1/rate (it measures post-filter group sizes but the survivors'
    * fractions are squeezed into [0, rate)). Pass DISTINCT salts to
    * composed samplers to make their decisions independent. */
  def hashFrac(id: Column, salt: String): Column = {
    val key = if (salt.isEmpty) id.cast("string")
      else concat(lit(salt), lit("-"), id.cast("string"))
    hash60(key).cast("double") / TwoPow60
  }

  private def checkRate(rate: Double): Double = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1], got $rate")
    rate
  }

  /** [[hashFrac]] with an executor-side null guard (VERDICT r9 stretch
    * #7): a null sampling key normally hashes to NULL and silently
    * fails every `< rate` comparison — rows vanish even at rate 1.0.
    * Opting into `strict` turns that silent loss into a loud job
    * failure via a map-side `raise_error` branch; still zero extra
    * passes/shuffles, so it costs nothing until a null appears. */
  private def fracOf(id: Column, strict: Boolean,
      salt: String = ""): Column =
    if (!strict) hashFrac(id, salt)
    else when(id.isNull, raise_error(lit(
      "sampling id column is null: a null sampling key is silently " +
        "dropped at ANY rate - clean or coalesce ids upstream, or " +
        "sample with strict=false to accept the drop")))
      .otherwise(hashFrac(id, salt))

  /** Deterministic Bernoulli sample at `rate`: a stateless map-side
    * filter (no shuffle, no RNG state), so it composes with scan
    * pruning and costs one scan at any corpus size. `strict = true`
    * fails loudly on a null id instead of silently dropping the row
    * (see [[fracOf]]). */
  def bernoulli(df: DataFrame, idCol: String, rate: Double,
      strict: Boolean = false, salt: String = ""): DataFrame =
    df.filter(fracOf(col(idCol), strict, salt) < checkRate(rate))

  /** Stratified deterministic sample: per-stratum rates, `defaultRate`
    * for unlisted strata. The rates table is a literal broadcast join
    * (tens of strata), so this too is one corpus scan with a map-side
    * filter — the corpus never shuffles. `strict` as in [[bernoulli]]. */
  def stratified(df: DataFrame, idCol: String, stratumCol: String,
      rates: Map[String, Double], defaultRate: Double = 0.0,
      strict: Boolean = false, salt: String = ""): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val thr = rates.toSeq.map { case (s, r) => (s, checkRate(r)) }
      .toDF(stratumCol, "__thr")
    df.join(broadcast(thr), Seq(stratumCol), "left_outer")
      .withColumn("__thr", coalesce(col("__thr"), lit(checkRate(defaultRate))))
      .filter(fracOf(col(idCol), strict, salt) < col("__thr"))
      .drop("__thr")
  }

  /** EXACT per-group quota: keep the `cap` rows with the smallest
    * id-hash in each group — a deterministic "random cap docs per
    * domain". Optimization r18 (the VERDICT r17 #1 bounded-heap shape,
    * applied to the last remaining per-group ranking sort): the old
    * `row_number() over (partition by group order by hash)` sorted
    * every group's FULL membership in one window task — a single
    * pathological group was a billion-row single-task sort. Now the
    * keep-set is decided on NARROW (group, hash, id) rows through the
    * [[graft.functions.TopKStructs]] bounded-heap aggregate (map-side
    * partials, only cap-row heaps shuffle — the identical
    * (hashBucket, id) total order), and the full rows join to the
    * keep-set — so no per-group sort exists anywhere in the plan and a
    * hot group costs the same as a cold one. Results are unchanged
    * (d16/d48 hash gates); caller contract (as before, now load-
    * bearing for the join): ids are unique within a group — the
    * deterministic rank already required it. The cap is therefore not
    * hard for repeated ids: a group with several null-id rows can keep
    * more than `cap` rows, because null ids match as ONE identity under
    * the null-safe `<=>` join (three null-id rows at cap 1 all survive).
    * For corpora where even the keep-set join is unwelcome, the
    * hash-filter [[groupQuotaApprox]] stays the shuffle-free twin. */
  def groupQuota(df: DataFrame, idCol: String, groupCol: String,
      cap: Int): DataFrame = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    val entry = struct(hashBucket(col(idCol)).as("__hb"), col(idCol))
    val kept = df.select(col(groupCol).as("__g"), entry.as("__e"))
      .groupBy(col("__g"))
      .agg(graft.functions.TopKFunctions.topKStructs(col("__e"), cap,
        descFirst = false).as("__top"))
      .select(col("__g"), explode(col("__top")).as("__e"))
      .select(col("__g"), col("__e").getField(idCol).as("__kid"))
    // null-safe on the group (a null group is one quota group, the
    // window-partition semantics this replaces) AND on the id (ADVICE
    // r18 / VERDICT r18 #7: `===` silently DROPPED null-id rows the
    // window recipe ranked — hashBucket(null) orders first, so a
    // null-id row was kept whenever cap >= 1). With `<=>` a single
    // null-id row per group survives exactly as the window kept it;
    // several null-id rows in one group match as one identity (the
    // same documented caveat as duplicate ids — the window's tie order
    // among equal (hash, id) pairs was never deterministic either).
    df.join(kept, col(groupCol) <=> col("__g") && col(idCol) <=> col("__kid"),
        "left_semi")
  }

  /** APPROXIMATE per-group quota for heavy-group corpora: count each
    * group (one partial-aggregated shuffle of (group, count) pairs —
    * never the rows), then keep each row with probability cap/count via
    * the deterministic hash filter. Expected group size = cap (binomial
    * spread ~ sqrt(cap)); no per-group sort exists anywhere in the
    * plan, so a group with 10^9 rows costs the same as one with 10^2.
    * Groups already within quota are kept whole (rate clamps to 1).
    * The keep rate is a double fraction against [[hashFrac]] — the
    * review-r9 predecessor compared integer-divided 10^4 buckets,
    * which floored to ZERO (the whole group silently dropped) as soon
    * as a group exceeded cap·10^4 rows — precisely the heavy-group
    * regime this operator exists for.
    *
    * `broadcastCounts = false` swaps the forced broadcast for a plain
    * equi-join: with 10^7+ groups (per-domain quotas on a web corpus)
    * the count table itself is too big to ship to every executor. */
  def groupQuotaApprox(df: DataFrame, idCol: String, groupCol: String,
      cap: Int, broadcastCounts: Boolean = true,
      salt: String = ""): DataFrame = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    // NULL-SAFE count join (review r12): groupBy puts null-group rows
    // in one count row, but a plain equi-join never matches null = null
    // — every null-group row silently vanished, while the exact
    // groupQuota KEEPS and caps the null group (it is one window
    // partition there). <=> restores parity between the two forms.
    val counts = df.groupBy(groupCol).agg(count(lit(1)).as("__n"))
      .withColumnRenamed(groupCol, "__g")
    df.join(if (broadcastCounts) broadcast(counts) else counts,
        col(groupCol) <=> col("__g"))
      .withColumn("__thr", least(lit(1.0), lit(cap.toDouble) / col("__n")))
      // salt if df was itself hash-sampled upstream (see hashFrac):
      // correlated fractions overshoot the cap by 1/upstream-rate
      .filter(hashFrac(col(idCol), salt) < col("__thr"))
      .drop("__g", "__n", "__thr")
  }

  /** Temperature-scaled mixture weights — α-sampling (mT5 §3.1 /
    * XLM-R): w_s ∝ (tokens_s)^α, normalized. α = 1 keeps the corpus's
    * natural proportions; α → 0 approaches uniform; the multilingual
    * pretraining sweet spot (α ≈ 0.2–0.7) up-samples low-resource
    * sources without drowning the head. Feed the result to
    * [[mixtureRates]] / [[mixtureSample]] / [[mixtureEpochPlan]] — or
    * use [[temperatureRates]], which aggregates the corpus ONCE and
    * runs both this and the rate algebra over the localized totals
    * (composing the two on a lazy totals frame scans the corpus once
    * per collect).
    *
    * Driver math over a ≤ |sources|-row collect (the codelist
    * pattern). The normalizing sum runs in SORTED source order, so the
    * weights are reproducible run-to-run regardless of row arrival
    * order (float addition is non-associative — the trainOpq
    * partition-index-fold rule). Like BPE training, the output is a
    * runtime value: correctness is spec-proven (hand-computed weights,
    * composition with the planner), not oracle-gated. */
  def temperatureWeights(totals: DataFrame, sourceCol: String,
      alpha: Double): Map[String, Double] = {
    require(alpha > 0, s"alpha must be > 0, got $alpha (alpha = 1 is " +
      "proportional; alpha -> 0 approaches uniform)")
    val rows = totals.select(col(sourceCol).cast("string"),
      col("n_tokens").cast("long")).collect()
    require(rows.nonEmpty, "temperatureWeights: empty totals")
    val pairs = rows.map { r =>
      require(!r.isNullAt(0), "temperatureWeights: null source")
      require(!r.isNullAt(1) && r.getLong(1) > 0,
        s"temperatureWeights: source '${r.getString(0)}' has zero/null " +
          "tokens - its weight would be 0 and its rate arithmetic divides by it")
      (r.getString(0), r.getLong(1))
    }
    require(pairs.map(_._1).distinct.length == pairs.length,
      "temperatureWeights: duplicate source rows - pass ONE totals row per source")
    val sorted = pairs.sortBy(_._1)
    // α = 0.5 (a common production choice) goes through sqrt, which
    // IEEE-754 requires to be correctly rounded — the weights are then
    // bit-identical cross-engine and the d43 gate can oracle-check the
    // whole plan. General pow is only ~1-ulp-accurate per libm, so
    // other α values stay spec-proven rather than oracle-gated.
    val pw = sorted.map { case (s, n) =>
      (s, if (alpha == 0.5) math.sqrt(n.toDouble)
          else math.pow(n.toDouble, alpha))
    }
    val z = pw.foldLeft(0.0)(_ + _._2) // fixed (sorted) summation order
    pw.map { case (s, x) => s -> x / z }.toMap
  }

  /** [[temperatureWeights]] + [[ratesFromTotals]] in ONE corpus
    * aggregation (review r12: composing them on a lazy totals frame
    * ran the per-source token scan twice — once per collect; here the
    * totals localize once and both halves read the local copy). */
  def temperatureRates(docs: DataFrame, sourceCol: String,
      tokensCol: Column, alpha: Double): DataFrame = {
    val spark = docs.sparkSession
    val totalsLazy = docs.groupBy(sourceCol)
      .agg(sum(tokensCol.cast("long")).as("n_tokens"))
    val totals = spark.createDataFrame(
      java.util.Arrays.asList(totalsLazy.collect(): _*), totalsLazy.schema)
    ratesFromTotals(totals, sourceCol,
      temperatureWeights(totals, sourceCol, alpha))
  }

  /** Static corpus-mixture planner — the source-mixing step of
    * training-data assembly (The Pile's per-source weights; the static
    * half of DoReMi-style reweighting): given target mixture weights
    * w_s over a source column, the largest token budget realizable
    * WITHOUT up-sampling any source is B = min_s tokens_s / w_s, and
    * each source keeps rate_s = w_s·B / tokens_s of its tokens (the
    * binding source at rate 1.0). Sources with no listed weight drop.
    *
    * Returns (source, n_tokens, rate). Scale shape: ONE
    * partial-aggregated (source, token-count) shuffle; the budget/rate
    * arithmetic runs as a window over the ≤|sources|-row stats frame —
    * no driver collect, no corpus re-scan. Deterministic double
    * arithmetic, so a SQL oracle reproduces every rate bit-for-bit. */
  def mixtureRates(docs: DataFrame, sourceCol: String, tokensCol: Column,
      weights: Map[String, Double]): DataFrame =
    ratesFromTotals(
      docs.groupBy(sourceCol).agg(sum(tokensCol.cast("long")).as("n_tokens")),
      sourceCol, weights)

  /** The rate algebra of [[mixtureRates]] over a PRE-AGGREGATED
    * (source, n_tokens) frame — the one copy of the budget/rate
    * arithmetic, shared by the batch planner and the streaming
    * plan-half (graft.streaming.EventStream.mixtureTokenTotals emits
    * finalized per-window totals; a foreachBatch republisher runs them
    * through here to refresh the rates the stateless apply-half
    * joins). */
  def ratesFromTotals(totals: DataFrame, sourceCol: String,
      weights: Map[String, Double]): DataFrame = {
    val stats = validatedStats(totals, sourceCol, weights)
    val budget = min(col("n_tokens").cast("double") / col("__w"))
      .over(Window.partitionBy()) // stats frame is <= |sources| rows
    stats
      .withColumn("rate",
        least(lit(1.0), col("__w") * budget / col("n_tokens").cast("double")))
      .select(col(sourceCol), col("n_tokens"), col("rate"))
  }

  /** Join per-source totals with the weight table and FAIL LOUDLY on a
    * plan the corpus cannot realize (review r11): the old inner join
    * silently DROPPED a weighted source with no corpus presence — the
    * planner then reported a valid mixture (e.g. 50/50 wiki/books at
    * rate 1.0) while delivering 100% of the surviving source. A
    * zero/null token total is the same lie one step later (rate math
    * divides by it; the epoch planner would floor(Infinity)). The
    * check is one driver-side collect of a <= |sources|-row frame —
    * and the RETURNED frame is rebuilt from those collected rows
    * (ADVICE r11: returning the lazy join meant the caller's rate
    * algebra re-evaluated the per-source token aggregation, a full
    * corpus scan, a second time). */
  private def validatedStats(totals: DataFrame, sourceCol: String,
      weights: Map[String, Double]): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "mixture weights must be positive")
    val spark = totals.sparkSession
    import spark.implicits._
    val w = weights.toSeq.toDF(sourceCol, "__w")
    val statsLazy = totals.join(broadcast(w), Seq(sourceCol)) // unlisted drop
    val statsRows = statsLazy.collect() // ONE evaluation of the corpus agg
    val stats = spark.createDataFrame(
      java.util.Arrays.asList(statsRows: _*), statsLazy.schema)
    // validation reads re-select the LOCAL frame — free, and Spark's
    // casts replace hand-rolled per-row type juggling (review r12)
    val rows = stats.select(col(sourceCol).cast("string"),
        col("n_tokens").cast("long")).collect()
      .map(r => (if (r.isNullAt(0)) null else r.getString(0),
        if (r.isNullAt(1)) null else java.lang.Long.valueOf(r.getLong(1))))
    val present = rows.map(_._1).toSet
    // one totals row per source, or the apply-half's rate join fans
    // every doc out once per duplicate (review r11: a foreachBatch
    // republisher accumulating N closed windows instead of passing
    // only the last would silently duplicate + mis-sample the stream)
    require(rows.length == present.size,
      s"mixture planner: duplicate source rows in totals " +
        s"(${rows.length} rows, ${present.size} sources) - pass ONE " +
        "window's totals")
    val missing = weights.keySet.diff(present)
    require(missing.isEmpty,
      s"mixture planner: weighted source(s) ${missing.mkString(", ")} " +
        "absent from the corpus - the plan could not realize the " +
        "requested mixture; drop them from weights or fix the source " +
        "column")
    rows.foreach { case (src, tok) =>
      require(tok != null && tok.longValue() > 0,
        s"mixture planner: source '$src' has zero/null " +
          "tokens - its rate/epoch arithmetic would divide by zero")
    }
    stats
  }

  /** The apply half of the mixture sampler: per-source deterministic
    * Bernoulli at the planned rate — broadcast rate join + the
    * [[hashFrac]] map-side filter, one corpus scan, reproducible
    * run-to-run and engine-to-engine like every sampler here. `rates`
    * needs (sourceCol, rate); stateless, so it runs unchanged on a
    * STREAMING `docs` (stream-static joins need no watermark). Pass a
    * distinct `salt` when `docs` was ITSELF hash-sampled upstream
    * (review r12 — the hashFrac composition law): unsalted, the rate
    * decision is fully correlated with the upstream keep set, so a
    * 0.5-sampled input fed a 0.4-rate plan keeps 0.8 of survivors,
    * not 0.4. */
  def applyRates(docs: DataFrame, idCol: String, sourceCol: String,
      rates: DataFrame, salt: String = "",
      onUnplanned: String = "drop"): DataFrame = {
    // "drop" is the batch contract (mixtureRates documents that
    // unweighted sources drop); "fail" raises per-row on a source
    // with no planned rate — the STREAMING apply half uses it, where
    // an empty/stale rates frame would otherwise silently emit
    // nothing (review r12; EventStream.mixtureSampleStream).
    require(onUnplanned == "drop" || onUnplanned == "fail",
      s"onUnplanned must be 'drop' or 'fail', got '$onUnplanned'")
    val r = broadcast(rates.select(col(sourceCol), col("rate")))
    val joined =
      if (onUnplanned == "drop") docs.join(r, Seq(sourceCol))
      else docs.join(r, Seq(sourceCol), "left_outer")
        .withColumn("rate", when(col("rate").isNotNull, col("rate"))
          .otherwise(raise_error(concat(
            lit("applyRates: source '"), col(sourceCol).cast("string"),
            lit("' has no planned rate - the rates frame is empty or " +
              "stale (publish a plan before starting the stream, or " +
              "re-plan for new sources)")))))
    joined.filter(hashFrac(col(idCol), salt) < col("rate")).drop("rate")
  }

  /** Plan + apply in one call (the batch one-shot). */
  def mixtureSample(docs: DataFrame, idCol: String, sourceCol: String,
      tokensCol: Column, weights: Map[String, Double],
      salt: String = ""): DataFrame =
    applyRates(docs, idCol, sourceCol,
      mixtureRates(docs, sourceCol, tokensCol, weights), salt)

  /** Fixed-budget mixture plan WITH up-sampling — the multi-epoch
    * variant of [[mixtureRates]] (when a target share exceeds a
    * source's available tokens, the source REPEATS: the standard
    * practice behind "source X is seen N times per training run").
    * For source s with target w_s·budget tokens over tokens_s
    * available: `full_epochs` complete passes plus one final pass
    * sampled at `last_rate` (0 ≤ rate < 1; floor/fraction of
    * target/tokens). Returns (source, n_tokens, full_epochs,
    * last_rate); same one-aggregation scale shape as [[mixtureRates]],
    * and the same engine-exact double arithmetic. */
  def mixtureEpochPlan(docs: DataFrame, sourceCol: String, tokensCol: Column,
      weights: Map[String, Double], budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, s"budget must be positive, got $budgetTokens")
    validatedStats(
      docs.groupBy(sourceCol).agg(sum(tokensCol.cast("long")).as("n_tokens")),
      sourceCol, weights)
      .withColumn("__share", col("__w") * lit(budgetTokens.toDouble) /
        col("n_tokens").cast("double"))
      .withColumn("full_epochs", floor(col("__share")))
      .withColumn("last_rate", col("__share") - col("full_epochs").cast("double"))
      .select(col(sourceCol), col("n_tokens"), col("full_epochs"),
        col("last_rate"))
  }

  /** Materialize the epoch MANIFEST for [[mixtureEpochPlan]]: each doc
    * appears once per full epoch (epoch 0..full_epochs-1) plus in the
    * final partial epoch when its [[hashFrac]] clears `last_rate`.
    * The output is the narrow (source, id, epoch) plan — row count
    * multiplies by the epoch factor but the TEXT never copies; a
    * training job joins epochs back to payloads shard by shard. */
  def mixtureEpochExpand(docs: DataFrame, idCol: String, sourceCol: String,
      tokensCol: Column, weights: Map[String, Double],
      budgetTokens: Long, payloadCols: Seq[String] = Seq.empty,
      salt: String = ""): DataFrame = {
    val plan = mixtureEpochPlan(docs, sourceCol, tokensCol, weights,
      budgetTokens)
    // manifest stays NARROW (review r11): joining the full docs frame
    // copied every payload column — including text — once per epoch,
    // the exact epoch-factor×corpus blowup the doc forbids. Only the
    // id/source spine plus explicitly requested payload columns ride
    // the expansion; the per-source plan columns (full_epochs,
    // last_rate) stay available to aggregating consumers.
    epochExpandFromPlan(docs, idCol, sourceCol, plan, payloadCols, salt)
  }

  /** The manifest-expansion half of [[mixtureEpochExpand]] over any
    * pre-computed plan frame carrying (sourceCol, full_epochs,
    * last_rate) — the ONE copy of the spine/explode/partial-epoch
    * logic, shared by the weighted planner and [[unimaxEpochPlan]].
    * `salt` decorrelates the partial-epoch Bernoulli from upstream
    * hash samplers (review r12; see [[applyRates]]). */
  def epochExpandFromPlan(docs: DataFrame, idCol: String,
      sourceCol: String, plan: DataFrame,
      payloadCols: Seq[String] = Seq.empty, salt: String = ""): DataFrame = {
    val spine = docs.select(
      (Seq(col(sourceCol), col(idCol)) ++ payloadCols.map(col)): _*)
    spine.join(broadcast(
        plan.select(col(sourceCol), col("full_epochs"), col("last_rate"))),
        Seq(sourceCol))
      .withColumn("epoch",
        explode(sequence(lit(0L), col("full_epochs"))))
      .filter(col("epoch") < col("full_epochs") ||
        hashFrac(col(idCol), salt) < col("last_rate"))
  }

  /** UniMax budget allocation (Chung et al. 2023, "UniMax: Fairer and
    * More Effective Language Sampling for Large-Scale Multilingual
    * Pretraining", ICLR 2023): spread a total token budget across
    * sources as uniformly as possible subject to a per-source repeat
    * cap — no source is seen more than `maxEpochs` times. The paper's
    * sequential pass (ascending by size, grant each source
    * min(cap_s, remaining budget / remaining sources)) is exactly
    * water-filling with caps cap_s = maxEpochs·tokens_s:
    * alloc_s = min(cap_s, λ) with λ the common level exhausting the
    * budget. When Σcap ≤ budget every source saturates its cap and the
    * leftover budget stays unallocated (the paper's behavior — raise
    * maxEpochs if that is not intended).
    *
    * Closed form instead of the sequential loop: sorted ascending by
    * (tokens, source), row i is capped iff
    * budget − cumcap_i ≥ cap_i·(n−i). The test is prefix-monotone
    * (caps ascend, so f(i) = budget − cumcap_i − cap_i·(n−i) is
    * non-increasing: f(i) − f(i+1) = (cap_{i+1} − cap_i)(n−i) ≥ 0),
    * which makes it one window pass — no loop, no driver iteration.
    * All arithmetic is exact int64 until the single λ division, so a
    * SQL oracle reproduces every allocation bit-for-bit.
    *
    * `totals` carries one (sourceCol, n_tokens) row per source; it is
    * collected once for validation (≤ |sources| rows, the
    * [[mixtureRates]] stats pattern) and the algebra runs as windows
    * over the rebuilt local frame. Returns (sourceCol, n_tokens, cap,
    * alloc, epochs, full_epochs, last_rate); the epoch columns feed
    * [[epochExpandFromPlan]] directly. */
  def unimaxPlan(totals: DataFrame, sourceCol: String, budgetTokens: Long,
      maxEpochs: Int): DataFrame = {
    require(budgetTokens > 0, s"budget must be positive, got $budgetTokens")
    require(maxEpochs >= 1, s"maxEpochs must be >= 1, got $maxEpochs")
    val spark = totals.sparkSession
    val statsLazy = totals.select(col(sourceCol).cast("string").as(sourceCol),
      col("n_tokens").cast("long").as("n_tokens"))
    val rows = statsLazy.collect() // ONE evaluation of the caller's agg
    require(rows.nonEmpty, "unimaxPlan: empty totals")
    val n = rows.length
    rows.foreach { r =>
      require(!r.isNullAt(0), "unimaxPlan: null source")
      require(!r.isNullAt(1) && r.getLong(1) > 0,
        s"unimaxPlan: source '${r.getString(0)}' has zero/null tokens - " +
          "its epoch arithmetic would divide by it")
      // cap·(n−i) and cumcap stay exact int64 (Spark's non-ANSI long
      // arithmetic WRAPS silently past 2^63); real corpora sit orders
      // of magnitude below this bound (10^14 tokens × 100 epochs × 100
      // sources ≈ 2^60).
      require(r.getLong(1) <= Long.MaxValue / maxEpochs / n,
        s"unimaxPlan: source '${r.getString(0)}' token count " +
          s"${r.getLong(1)} overflows the exact int64 window " +
          s"(> Long.Max / $maxEpochs / $n sources)")
    }
    require(rows.map(_.getString(0)).distinct.length == n,
      "unimaxPlan: duplicate source rows - pass ONE totals row per source")
    val stats = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), statsLazy.schema)
    val ord = Window.orderBy(col("n_tokens"), col(sourceCol))
    val all = Window.partitionBy() // ≤ |sources| rows
    stats
      .withColumn("cap", col("n_tokens") * maxEpochs)
      .withColumn("__cum", sum("cap")
        .over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__rn", row_number().over(ord).cast("long"))
      .withColumn("__n", count(lit(1)).over(all))
      .withColumn("__capped",
        (lit(budgetTokens) - col("__cum")) >= col("cap") * (col("__n") - col("__rn")))
      .withColumn("__ccap",
        coalesce(sum(when(col("__capped"), col("cap"))).over(all), lit(0L)))
      .withColumn("__nc", count(when(col("__capped"), lit(1))).over(all))
      .withColumn("alloc", when(col("__capped"), col("cap").cast("double"))
        .otherwise((lit(budgetTokens) - col("__ccap")).cast("double") /
          (col("__n") - col("__nc")).cast("double")))
      .withColumn("epochs", col("alloc") / col("n_tokens").cast("double"))
      .withColumn("full_epochs", floor(col("epochs")))
      .withColumn("last_rate", col("epochs") - col("full_epochs").cast("double"))
      .select(col(sourceCol), col("n_tokens"), col("cap"), col("alloc"),
        col("epochs"), col("full_epochs"), col("last_rate"))
  }

  /** [[unimaxPlan]] from the raw corpus: one per-source token
    * aggregation, then the water-filling algebra. */
  def unimaxEpochPlan(docs: DataFrame, sourceCol: String,
      tokensCol: Column, budgetTokens: Long, maxEpochs: Int): DataFrame =
    unimaxPlan(
      docs.groupBy(sourceCol).agg(sum(tokensCol.cast("long")).as("n_tokens")),
      sourceCol, budgetTokens, maxEpochs)

  /** DSIR importance scores (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling", arXiv:2302.03169):
    * score every document by how target-like its hashed n-gram bag is.
    * Features are word uni+bigrams hashed into `buckets` cells (the
    * engine-portable 60-bit-md5 recipe); the target and raw feature
    * distributions get add-one smoothing, and a document's score is
    * the mean per-feature log importance ratio
    * `ln p_target(b) / p_raw(b)` (mean, not sum — the paper's length
    * bias note; sums just rank long docs first). Every ratio is a
    * quotient of integer-valued double products ((tc+1)(Nr+B) vs
    * (rc+1)(Nt+B) — exact while below 2^53, which holds far beyond
    * gate scale), so a SQL oracle reproduces the doubles bit-for-bit.
    *
    * Scale: the two histograms are at most `buckets` rows — they
    * broadcast no matter the corpus size (the model is fixed-size,
    * like [[LangModel]]'s reference slice); feature extraction and
    * scoring are map-side, and the only corpus-width shuffle is the
    * narrow (id, logratio) mean. `targetPred` selects the trusted
    * slice (e.g. a curated language/source) WITHIN the corpus scan —
    * no second pass over the data. */
  def dsirScores(docs: DataFrame, targetPred: Column,
      idCol: String = "doc_id", textCol: String = "text",
      buckets: Int = 10000): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    // Decouple the CPU-dense feature hashing from file-split geometry
    // (one-row-group sources = one task), same as Dedup.spread.
    val spread = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    val ws = spread.select(col(idCol).as("id"), targetPred.as("__t"),
      graft.functions.TextFunctions.words(col(textCol)).as("ws"))
    val grams = ws.select(col("id"), col("__t"),
      explode(graft.functions.TextFunctions.uniBigrams(col("ws"))).as("f"))
    val feats = dsirPersist(grams.select(col("id"), col("__t"),
      featureBucket(col("f"), buckets).as("b")))
    // ONE fused histogram pass (raw + target counts together — a
    // second groupBy would re-run the explode+md5 subtree per plan
    // reference, the NOTES recompute law; measured 2.3x slower), then
    // the grand totals as windows over the <= `buckets`-row histogram
    // instead of a driver collect. Every feature's bucket exists in
    // the histogram by construction, so the score join is inner.
    val hist = feats.groupBy("b")
      .agg(count(lit(1)).as("rc"),
        count(when(col("__t"), 1)).as("tc"))
      .withColumn("nr", sum("rc").over(Window.partitionBy()))
      .withColumn("nt", sum("tc").over(Window.partitionBy()))
      // fail-loudly (review r12): a targetPred matching ZERO documents
      // has nt = 0 and every tc = 0 — the "importance" scores would
      // silently be pure inverse-frequency noise. The branch runs per
      // histogram row (<= buckets), not per corpus row.
      .withColumn("nt", when(col("nt") > 0, col("nt")).otherwise(
        raise_error(lit("dsirScores: targetPred matched no documents - " +
          "the scores would be inverse-frequency noise, not importance " +
          "ratios; fix the predicate or the target slice"))))
    // Each factor casts to double BEFORE the multiply (review r9): the
    // int64 product (tc+1)·(nr+B) overflows past nr ~ 10^12 total
    // features with a skewed bucket, turning scores into log(negative)
    // = NaN. At gate scale every factor is far below 2^53, so the
    // double products are exact and the oracle hash is unchanged;
    // beyond 2^53 the score degrades gracefully to double rounding
    // instead of wrapping.
    feats.join(broadcast(hist), Seq("b"))
      .withColumn("__lr",
        log(((col("tc") + 1).cast("double") * (col("nr") + buckets).cast("double")) /
          ((col("rc") + 1).cast("double") * (col("nt") + buckets).cast("double"))))
      .groupBy("id")
      .agg(count(lit(1)).as("n_feats"), avg("__lr").as("dsir_score"))
  }

  /** DSIR selection: keep the `k` most target-like documents by
    * [[dsirScores]] (deterministic top-k, ties broken by id — the
    * paper's Gumbel perturbation needs an RNG, which would break both
    * run-to-run and engine-to-engine reproducibility; at selection
    * ratios far from 0 or 1 the ranking dominates the noise anyway).
    * TakeOrdered-shaped: per-partition top-k then a k-row merge — no
    * global sort of the corpus. */
  def dsirResample(docs: DataFrame, targetPred: Column, k: Int,
      idCol: String = "doc_id", textCol: String = "text",
      buckets: Int = 10000): DataFrame =
    dsirScores(docs, targetPred, idCol, textCol, buckets)
      .orderBy(col("dsir_score").desc, col("id"))
      .limit(k)

  /** Deterministic epoch shuffle + sharding — the last stage of
    * training-data assembly (after mixture/pack): a reproducible
    * pseudo-random order per epoch and a balanced assignment into
    * `nShards` output shards, with NO RNG state. Each row gets
    *   hash  = 60-bit md5 of "seed-id" (engine-portable, so a SQL
    *           oracle re-derives every placement),
    *   shard = hash mod nShards   (balanced in expectation),
    *   pos   = rank of (hash, id) within the shard (ties impossible
    *           beyond hash collisions; id breaks those).
    * Different seeds (e.g. the epoch number) give independent orders;
    * the same seed reproduces the exact placement run-to-run and
    * engine-to-engine — the property that makes training resumable
    * and data-order bugs bisectable.
    *
    * Scale shape: one hash-partitioned shuffle on `shard` + a
    * per-shard sort (the window) — exactly the write-side shuffle a
    * sharded output needs anyway, so the ordering is free relative to
    * the export; no global total-order sort exists in the plan. A
    * shard is one output file: pick nShards so corpus/nShards fits a
    * task (thousands of shards at 100 TB — the window partitions
    * stay bounded). */
  def epochShuffle(df: DataFrame, idCol: String, seed: String,
      nShards: Int): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    require(seed.nonEmpty, "seed must be non-empty")
    val h = hash60(concat(lit(seed), lit("-"), col(idCol).cast("string")))
    val w = Window.partitionBy(col("__shard"))
      .orderBy(col("__h"), col(idCol))
    df.withColumn("__h", h)
      .withColumn("__shard", (col("__h") % nShards).cast("int"))
      .withColumn("pos", row_number().over(w))
      .withColumn("shard", col("__shard"))
      .drop("__h", "__shard")
  }
}
