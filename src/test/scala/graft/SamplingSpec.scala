package graft

import org.apache.spark.sql.functions._

import graft.ops.Sampling

/** Deterministic sampling / quota operators (graft.ops.Sampling) and
  * the repetition-stats native expression. */
class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val rows = (1L to 2000L).map(i =>
    (i, if (i % 4 == 0) "en" else if (i % 4 == 1) "de" else "other"))
    .toDF("id", "lang")

  test("bernoulli sample is deterministic and near the nominal rate") {
    val a = Sampling.bernoulli(rows, "id", 0.3).select("id").as[Long].collect().toSet
    val b = Sampling.bernoulli(rows.repartition(7), "id", 0.3)
      .select("id").as[Long].collect().toSet
    assert(a == b, "partitioning must not change the sample")
    assert(math.abs(a.size - 600) < 80, s"rate off: ${a.size}/2000 at 0.3")
  }

  test("strict sampling fails loudly on a null id; default silently " +
    "drops it (VERDICT r9 stretch #7)") {
    val withNull = Seq((Some(1L), "en"), (None: Option[Long], "en"),
      (Some(3L), "de")).toDF("id", "lang")
    // default: the null-id row vanishes even at rate 1.0 (documented)
    assert(Sampling.bernoulli(withNull, "id", 1.0).count() == 2)
    // strict: the same input fails the job with the guard's message
    val ex = intercept[Exception] {
      Sampling.bernoulli(withNull, "id", 1.0, strict = true).count()
    }
    def rootMsg(t: Throwable): String =
      Option(t.getCause).map(rootMsg).getOrElse(t.getMessage)
    assert((ex.getMessage + rootMsg(ex)).contains("sampling id column is null"),
      s"guard must fire with its message, got: ${ex.getMessage}")
    val ex2 = intercept[Exception] {
      Sampling.stratified(withNull, "id", "lang", Map("en" -> 1.0),
        defaultRate = 1.0, strict = true).count()
    }
    assert((ex2.getMessage + rootMsg(ex2)).contains("sampling id column is null"))
    // strict on clean ids is a no-op: identical kept set, still a
    // pure map-side filter
    val clean = Sampling.bernoulli(rows, "id", 0.3).select("id").as[Long]
      .collect().toSet
    val strictSet = Sampling.bernoulli(rows, "id", 0.3, strict = true)
      .select("id").as[Long].collect().toSet
    assert(clean == strictSet)
  }

  test("epochShuffle: reproducible placement, dense per-shard positions, " +
    "seed changes the order") {
    val a = Sampling.epochShuffle(rows, "id", "ep0", nShards = 8)
      .select("id", "shard", "pos")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    // partitioning must not change any placement (no RNG state)
    val b = Sampling.epochShuffle(rows.repartition(7), "id", "ep0", 8)
      .select("id", "shard", "pos")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(a == b, "placement must be independent of input partitioning")
    // every row placed exactly once; positions dense 1..n per shard
    assert(a.size == 2000 && a.map(_._1).size == 2000)
    val byShard = a.groupBy(_._2)
    assert(byShard.keySet.subsetOf((0 until 8).toSet))
    byShard.foreach { case (s, rs) =>
      assert(rs.map(_._3).toSeq.sorted == (1 to rs.size),
        s"shard $s positions must be dense 1..n")
    }
    // balanced in expectation: no shard more than 2x the mean
    assert(byShard.values.map(_.size).max <= 2 * 2000 / 8)
    // a different seed (next epoch) produces a different order
    val c = Sampling.epochShuffle(rows, "id", "ep1", 8)
      .select("id", "shard", "pos")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(a != c, "different seeds must give independent placements")
  }

  test("bernoulli sample is monotone in rate (kept set only grows)") {
    val lo = Sampling.bernoulli(rows, "id", 0.2).select("id").as[Long].collect().toSet
    val hi = Sampling.bernoulli(rows, "id", 0.5).select("id").as[Long].collect().toSet
    assert(lo.subsetOf(hi))
  }

  test("stratified sample applies per-stratum rates") {
    val s = Sampling.stratified(rows, "id", "lang",
      Map("en" -> 1.0, "de" -> 0.0), defaultRate = 0.25)
    val byLang = s.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang("en") == 500L, "rate 1.0 keeps every row")
    assert(!byLang.contains("de"), "rate 0.0 keeps none")
    assert(math.abs(byLang("other") - 250L) < 60, s"default rate off: ${byLang.get("other")}")
  }

  test("groupQuota keeps exactly cap rows per over-quota group") {
    val capped = Sampling.groupQuota(rows, "id", "lang", cap = 100)
    val byLang = capped.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang.values.forall(_ == 100L), s"got $byLang")
    // determinism: same kept set under different partitioning
    val again = Sampling.groupQuota(rows.repartition(5), "id", "lang", cap = 100)
    assert(capped.select("id").as[Long].collect().toSet ==
      again.select("id").as[Long].collect().toSet)
  }

  test("groupQuota keeps a null-id row the window recipe ranked " +
    "(VERDICT r18 #7: the r18 semi-join silently dropped it)") {
    val withNull = Seq((Some(1L), "en"), (Some(2L), "en"),
      (None: Option[Long], "en"), (Some(4L), "de"))
      .toDF("id", "lang")
    // cap above the group sizes: EVERY row must survive, null id
    // included — exactly what row_number over (partition by lang) kept
    val kept = Sampling.groupQuota(withNull, "id", "lang", cap = 10)
    assert(kept.count() == 4, "null-id row must not be silently dropped")
    assert(kept.filter(col("id").isNull).count() == 1)
    // and a sub-cap quota still holds with the null ranked first
    // (hashBucket(null) orders before any non-null hash)
    val capped = Sampling.groupQuota(withNull, "id", "lang", cap = 1)
    assert(capped.count() == 2, "one row per group at cap=1")
    // several null-id rows in one group match as ONE identity under
    // <=>: the kept null id keeps all three, so the cap is exceeded
    // (the documented caveat, pinned)
    val nulls = Seq.fill(3)((None: Option[Long], "xx")).toDF("id", "lang")
    assert(Sampling.groupQuota(nulls, "id", "lang", cap = 1).count() == 3)
  }

  test("groupQuota keeps under-quota groups whole") {
    val capped = Sampling.groupQuota(rows, "id", "lang", cap = 5000)
    assert(capped.count() == 2000L)
  }

  test("groupQuotaApprox lands near cap without sorting any group") {
    val capped = Sampling.groupQuotaApprox(rows, "id", "lang", cap = 100)
    val byLang = capped.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // binomial spread around cap: ~sqrt(100)=10; allow 4 sigma
    assert(byLang.values.forall(n => math.abs(n - 100L) <= 40), s"got $byLang")
    val whole = Sampling.groupQuotaApprox(rows, "id", "lang", cap = 5000)
    assert(whole.count() == 2000L, "groups within quota are kept whole")
  }

  test("groupQuotaApprox keeps ~cap rows in the heavy-group regime") {
    // review r9: the integer-divided bucket threshold floored to ZERO
    // once a group exceeded cap·10^4 rows — the whole group vanished
    // in exactly the heavy-group regime the operator exists for
    val heavy = spark.range(0, 100000, 1, 8)
      .select(col("id"), lit("g").as("lang"))
    val kept = Sampling.groupQuotaApprox(heavy, "id", "lang", cap = 5).count()
    assert(kept > 0, "heavy group must not be dropped wholesale")
    assert(kept <= 25, s"expected ~5 of 100k, got $kept")
  }

  test("bernoulli resolves rates far below the old 1e-4 bucket floor") {
    // review r9: rateToBucket rounded any rate < 5e-5 to an empty
    // sample; the 60-bit fraction resolves it
    val big = spark.range(0, 500000, 1, 8).toDF("id")
    val kept = Sampling.bernoulli(big, "id", 4e-5).count()
    assert(kept > 0, "sub-5e-5 rate must not round to an empty sample")
    assert(kept <= 100, s"expected ~20 of 500k, got $kept")
  }

  test("mixture planner: binding source at rate 1, others scaled; " +
    "unlisted sources drop") {
    import org.apache.spark.sql.functions.{col, lit}
    // tokens: s1 = 100, s2 = 50, s3 unlisted. weights .5/.5:
    // budgets 100/0.5 = 200 (s1), 50/0.5 = 100 (s2, binding) -> B = 100
    // rate_s1 = 0.5*100/100 = 0.5, rate_s2 = 0.5*100/50 = 1.0
    val docs = ((1L to 20L).map(i => (i, "s1", 5)) ++
      (21L to 30L).map(i => (i, "s2", 5)) ++
      (31L to 35L).map(i => (i, "s3", 5))).toDF("id", "src", "toks")
    val rates = Sampling.mixtureRates(docs, "src", col("toks"),
        Map("s1" -> 0.5, "s2" -> 0.5))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(rates == Map("s1" -> (100L, 0.5), "s2" -> (50L, 1.0)))
    val kept = Sampling.mixtureSample(docs, "id", "src", col("toks"),
        Map("s1" -> 0.5, "s2" -> 0.5))
      .select("id", "src").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(kept.count(_._2 == "s2") == 10, "binding source keeps everything")
    assert(!kept.exists(_._2 == "s3"), "unlisted source drops")
    val s1 = kept.count(_._2 == "s1")
    assert(s1 > 2 && s1 < 18, s"~half of s1 expected, got $s1")
    // determinism across partitionings
    val again = Sampling.mixtureSample(docs.repartition(7), "id", "src",
        col("toks"), Map("s1" -> 0.5, "s2" -> 0.5))
      .select("id").as[Long].collect().toSet
    assert(again == kept.map(_._1).toSet)
  }

  test("mixture planner fails loudly on a weighted source the corpus " +
    "cannot supply (review r11)") {
    val docs = (1L to 10L).map(i => (i, "wiki", 5)).toDF("id", "src", "toks")
    // absent source: the old inner join silently dropped 'books' and
    // reported a 50/50 plan that delivered 100% wiki
    val ex = intercept[IllegalArgumentException] {
      Sampling.mixtureRates(docs, "src", col("toks"),
        Map("wiki" -> 0.5, "books" -> 0.5)).collect()
    }
    assert(ex.getMessage.contains("books"), ex.getMessage)
    // zero-token source: epoch share would floor(Infinity)
    val zero = docs.union(Seq((99L, "empty", 0)).toDF("id", "src", "toks"))
    val ex2 = intercept[IllegalArgumentException] {
      Sampling.mixtureEpochPlan(zero, "src", col("toks"),
        Map("wiki" -> 0.5, "empty" -> 0.5), budgetTokens = 100L).collect()
    }
    assert(ex2.getMessage.contains("zero/null"), ex2.getMessage)
  }

  test("mixture planner evaluates the corpus aggregation once " +
    "(ADVICE r11)") {
    import org.apache.spark.sql.functions.col
    val docs = ((1L to 20L).map(i => (i, "s1", 5)) ++
      (21L to 30L).map(i => (i, "s2", 5))).toDF("id", "src", "toks")
    val rates = Sampling.mixtureRates(docs, "src", col("toks"),
      Map("s1" -> 0.5, "s2" -> 0.5))
    // validatedStats already collected the <= |sources|-row totals for
    // the loud-failure checks; the returned frame must be REBUILT from
    // those rows — if any leaf still references the corpus, the rate
    // algebra re-runs the full per-source token scan a second time
    val leaves = rates.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.nonEmpty && leaves.forall(_.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
      s"rates plan must be local-only, got leaves: $leaves")
    // and the values are the same ones the lazy plan produced
    val m = rates.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(m == Map("s1" -> (100L, 0.5), "s2" -> (50L, 1.0)))
  }

  test("temperature weights: hand-computed alpha-sampling, planner " +
    "composition (review r12)") {
    import org.apache.spark.sql.functions.col
    // tokens: web 900, wiki 100 -> natural p = 0.9/0.1
    val docs = ((1L to 90L).map(i => (i, "web", 10)) ++
      (91L to 100L).map(i => (i, "wiki", 10))).toDF("id", "src", "toks")
    val totals = docs.groupBy("src")
      .agg(org.apache.spark.sql.functions.sum(col("toks").cast("long"))
        .as("n_tokens"))
    // alpha = 1: exactly the natural proportions
    val w1 = Sampling.temperatureWeights(totals, "src", 1.0)
    assert(w1("web") == 0.9 && w1("wiki") == 0.1, s"got $w1")
    // alpha = 0.5: hand-computed sqrt scaling in sorted-source order
    // (the implementation routes 0.5 through math.sqrt — correctly
    // rounded per IEEE-754, which is what lets the d43 gate mirror the
    // weights in a DuckDB oracle; general pow is only ~1-ulp libm)
    val w05 = Sampling.temperatureWeights(totals, "src", 0.5)
    val (pwWeb, pwWiki) = (math.sqrt(900.0), math.sqrt(100.0))
    val z = pwWeb + pwWiki // sorted order: web < wiki
    assert(w05("web") == pwWeb / z && w05("wiki") == pwWiki / z, s"got $w05")
    assert(w05("wiki") > 0.1 && w05("web") < 0.9,
      "alpha < 1 must up-weight the low-resource source")
    assert(math.abs(w05.values.sum - 1.0) < 1e-12)
    // composition: the temperature weights drive the rate planner —
    // wiki (up-weighted beyond its supply share) binds at rate 1.0
    val rates = Sampling.ratesFromTotals(totals, "src", w05)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(rates("wiki") == 1.0 && rates("web") < 1.0, s"got $rates")
    // loud on a zero-token source (its weight would divide a rate by 0)
    val zero = totals.union(Seq(("empty", 0L)).toDF("src", "n_tokens"))
    val ex = intercept[IllegalArgumentException] {
      Sampling.temperatureWeights(zero, "src", 0.5)
    }
    assert(ex.getMessage.contains("zero/null"), ex.getMessage)
    // temperatureRates: ONE corpus aggregation — the returned frame is
    // local-only (review r12: weights + rate algebra on a lazy totals
    // frame scanned the corpus once per collect), values identical to
    // the two-step composition
    val tr = Sampling.temperatureRates(docs, "src", col("toks"), 0.5)
    val leaves = tr.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.nonEmpty && leaves.forall(_.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
      s"temperatureRates plan must be local-only, got: $leaves")
    val trMap = tr.collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(trMap == rates, s"one-scan rates $trMap != composed $rates")
  }

  test("salted sampling decorrelates composed samplers (review r11)") {
    // unsalted: bernoulli∘bernoulli keeps min(r1, r2), not r1*r2 —
    // the second filter is a no-op on the survivors
    val unsalted = Sampling.bernoulli(
      Sampling.bernoulli(rows, "id", 0.5), "id", 0.5).count()
    assert(math.abs(unsalted - 1000) < 100,
      s"unsalted composition is fully correlated (~50%), got $unsalted")
    // distinct salts: independent decisions, ~25% survive
    val salted = Sampling.bernoulli(
      Sampling.bernoulli(rows, "id", 0.5, salt = "a"),
      "id", 0.5, salt = "b").count()
    assert(salted > 380 && salted < 620,
      s"salted composition must approximate r1*r2=25%, got $salted")
    // empty salt is bit-identical to the unsalted legacy path
    val a = Sampling.bernoulli(rows, "id", 0.3).select("id").as[Long]
      .collect().toSet
    val b = Sampling.bernoulli(rows, "id", 0.3, salt = "").select("id")
      .as[Long].collect().toSet
    assert(a == b)
  }

  test("epoch mixture: hand-computed full passes + fractional final pass") {
    import org.apache.spark.sql.functions.{col, lit}
    // s1: 20 docs x 10 tokens = 200; s2: 10 docs x 10 = 100.
    // budget 1000, weights .7/.3: share_s1 = 700/200 = 3.5 -> 3 full
    // epochs + rate .5; share_s2 = 300/100 = 3.0 -> exactly 3 full, 0
    val docs = ((1L to 20L).map(i => (i, "s1", 10)) ++
      (21L to 30L).map(i => (i, "s2", 10))).toDF("id", "src", "toks")
    val w = Map("s1" -> 0.7, "s2" -> 0.3)
    val plan = Sampling.mixtureEpochPlan(docs, "src", col("toks"), w, 1000L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(plan("s1") == (200L, 3L, 0.5))
    assert(plan("s2") == (100L, 3L, 0.0))
    val manifest = Sampling.mixtureEpochExpand(docs, "id", "src",
        col("toks"), w, 1000L)
      .select("src", "id", "epoch").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // s2: exactly 3 full epochs, no partial rows
    assert(manifest.count(_._1 == "s2") == 30)
    assert(manifest.filter(_._1 == "s2").forall(_._3 < 3))
    // s1: 60 full-epoch rows + a deterministic ~half partial epoch
    val s1 = manifest.filter(_._1 == "s1")
    assert(s1.count(_._3 < 3) == 60)
    val partial = s1.count(_._3 == 3L)
    assert(partial >= 3 && partial <= 17, s"~10 of 20 docs expected, got $partial")
    // epoch manifest is deterministic across partitionings
    val again = Sampling.mixtureEpochExpand(docs.repartition(5), "id", "src",
        col("toks"), w, 1000L)
      .select("src", "id", "epoch").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(manifest.sorted.sameElements(again.sorted))
  }

  test("repetition stats flag repeated n-grams and boilerplate") {
    val d = Seq(
      (1L, "spam spam spam spam spam spam"),
      (2L, "one two three four five six seven eight"),
      (3L, "a b c a b c a b c"),
      (4L, "x"),
      (5L, "")).toDF("doc_id", "text")
    val r = d.select(col("doc_id"),
        graft.functions.CatalystFunctions.repetitionStats(col("text")).as("r"))
      .select(col("doc_id"), col("r.n_words"), col("r.distinct_word_ratio"),
        col("r.top_2gram_frac"), col("r.dup_3gram_frac"))
      .collect().map(x => x.getLong(0) ->
        (x.getInt(1), x.getDouble(2), x.getDouble(3), x.getDouble(4))).toMap
    assert(r(1L) == ((6, 0.1667, 1.0, 1.0)), s"got ${r(1L)}") // all one gram
    assert(r(2L) == ((8, 1.0, 0.1429, 0.0)), s"got ${r(2L)}") // no repetition
    // "a b c"×3: 8 2-grams, "a b"+"b c" 3 each -> top2 3/8; all 7
    // 3-gram tokens belong to grams seen >1 time
    assert(r(3L) == ((9, 0.3333, 0.375, 1.0)), s"got ${r(3L)}")
    assert(r(4L) == ((1, 1.0, 0.0, 0.0)), "single word: no grams")
    assert(r(5L) == ((0, 0.0, 0.0, 0.0)), "empty text")
  }

  test("plan shapes: sampling filters add no shuffle; quota shuffles once") {
    // exchanges are inserted by EnsureRequirements, so count them on
    // the prepared (executed) plan; string match traverses through the
    // AQE wrapper too
    def shuffles(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange hashpartitioning".r
        .findAllIn(df.queryExecution.executedPlan.toString).size
    // multi-partition source (a single-partition local relation would
    // let the window skip its exchange and mask the plan shape)
    val wide = spark.range(0, 2000, 1, 8)
      .select(col("id"), (col("id") % 4).cast("string").as("lang"))
    // Bernoulli and stratified are map-side hash filters: at 100 TB the
    // sample costs exactly one scan, no exchange of corpus rows
    assert(shuffles(Sampling.bernoulli(wide, "id", 0.3)) == 0,
      "bernoulli must be a pure filter")
    assert(shuffles(Sampling.stratified(wide, "id", "lang",
      Map("1" -> 0.5), 0.1)) == 0,
      "stratified must be filter + broadcast only")
    // exact quota: one exchange for the per-group window
    assert(shuffles(Sampling.groupQuota(wide, "id", "lang", 10)) == 1,
      "exact quota is one window shuffle")
    // approximate quota: one aggregation exchange for (group, count) —
    // the corpus side itself never shuffles
    assert(shuffles(Sampling.groupQuotaApprox(wide, "id", "lang", 10)) == 1,
      "approx quota shuffles only the narrow count aggregate")
    // epoch shuffle: exactly the ONE shard-key exchange the sharded
    // export pays anyway (plus its per-shard window sort) — a global
    // total-order sort would show as a rangepartitioning exchange
    assert(shuffles(Sampling.epochShuffle(wide, "id", "ep0", 8)) == 1,
      "epoch shuffle is one shard-key exchange")
    assert(!Sampling.epochShuffle(wide, "id", "ep0", 8)
      .queryExecution.executedPlan.toString.contains("rangepartitioning"),
      "epoch shuffle must not global-sort the corpus")
  }

  test("mixture plan shapes: stats aggregate + broadcast rates, " +
    "no corpus-row shuffle") {
    import org.apache.spark.sql.functions.col
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange hashpartitioning".r
        .findAllIn(df.queryExecution.executedPlan.toString).size
    def broadcasts(df: org.apache.spark.sql.DataFrame): Int =
      "BroadcastExchange".r
        .findAllIn(df.queryExecution.executedPlan.toString).size
    val wide = spark.range(0, 2000, 1, 8)
      .select(col("id"), (col("id") % 4).cast("string").as("src"),
        (col("id") % 7 + 1).cast("int").as("toks"))
    val w = Map("0" -> 0.5, "1" -> 0.5)
    // mixtureSample: the ONLY hash exchanges belong to the tiny
    // (source, count) aggregate + the <=|sources|-row window; corpus
    // rows flow map-side through the broadcast rate join
    val mix = Sampling.mixtureSample(wide, "id", "src", col("toks"), w)
    assert(broadcasts(mix) >= 1, "rates must broadcast")
    assert(exchanges(mix) <= 3,
      s"corpus rows must not shuffle:\n${mix.queryExecution.executedPlan}")
    // epoch manifest: same shape plus the explode — still no
    // corpus-keyed exchange
    val ep = Sampling.mixtureEpochExpand(wide, "id", "src", col("toks"), w, 5000L)
    assert(broadcasts(ep) >= 1, "epoch plan must broadcast")
    assert(exchanges(ep) <= 3,
      s"epoch expansion must stay map-side:\n${ep.queryExecution.executedPlan}")
  }

  test("dsir scores rank target-like docs first; resample keeps top-k") {
    val tgt = "alpha beta gamma delta epsilon zeta"          // target style
    val oth = "uno dos tres cuatro cinco seis siete"         // off-target
    val data = Seq(
      (1L, tgt, true), (2L, tgt, true), (3L, s"$tgt $tgt", true),
      (4L, tgt, false),                  // target-LIKE but outside the slice
      (5L, oth, false), (6L, oth, false), (7L, s"$oth $oth", false),
      (8L, "alpha beta uno dos", false), // mixed
      (9L, "solo", false)                // 1-word doc: bigram guard path
    ).toDF("doc_id", "text", "is_t")
    val sc = Sampling.dsirScores(data, col("is_t"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // every doc with >= 1 word is scored, including the 1-word doc
    assert(sc.keySet == (1L to 9L).toSet)
    assert(sc(9L)._1 == 1L, "1-word doc has exactly its unigram feature")
    // doc 4 shares the target text without being in the slice -> its
    // score equals the in-slice copies' and beats every off-target doc
    assert(sc(4L)._2 == sc(1L)._2)
    assert(Seq(5L, 6L, 7L).forall(i => sc(i)._2 < sc(4L)._2))
    // mixed doc sits strictly between
    assert(sc(8L)._2 < sc(1L)._2 && sc(8L)._2 > sc(5L)._2)
    // resample keeps the k highest-scoring (ties by id)
    val kept = Sampling.dsirResample(data, col("is_t"), 4)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L, 4L))
  }

  test("dsir plan: histograms broadcast, corpus shuffles once") {
    val wide = spark.range(0, 512, 1, 8).select(col("id"),
      concat_ws(" ", lit("w"), (col("id") % 7).cast("string"),
        lit("x"), (col("id") % 3).cast("string")).as("text"),
      (col("id") % 2 === 0).as("is_t"))
    val plan = Sampling.dsirScores(wide, col("is_t"), idCol = "id")
      .queryExecution.executedPlan.toString
    assert("BroadcastExchange".r.findAllIn(plan).size == 1,
      "the fused histogram must broadcast to the score join")
    // corpus-width exchanges: only the final (id) aggregate; the
    // histogram aggregate exchanges <= `buckets` partial rows
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 2,
      s"unexpected corpus-width shuffles:\n$plan")
  }

  test("repetition_stats is registered as a SQL function") {
    graft.functions.GraftExtensions.register(spark)
    val row = spark.sql(
      "SELECT repetition_stats('go go go').top_2gram_frac AS f").head()
    assert(row.getDouble(0) == 1.0)
  }

  test("groupQuotaApprox keeps and caps the null group like groupQuota " +
    "(review r12)") {
    val df = (1L to 400L).map(i =>
      (i, if (i % 4 == 0) None else Some(s"g${i % 2}")))
      .toDF("id", "grp")
    val approx = Sampling.groupQuotaApprox(df, "id", "grp", cap = 30)
    val nullKept = approx.filter(col("grp").isNull).count()
    assert(nullKept > 0, "null-group rows must not vanish")
    // 100 null-group rows at rate 30/100: binomial around 30
    assert(nullKept >= 15 && nullKept <= 50, s"nullKept=$nullKept")
    // exact form for comparison: exactly cap rows of the null group
    val exact = Sampling.groupQuota(df, "id", "grp", cap = 30)
    assert(exact.filter(col("grp").isNull).count() == 30)
  }

  test("applyRates/epoch expansion accept a salt: composed sampling is " +
    "decorrelated (review r12)") {
    import spark.implicits._
    val docs = (1L to 4000L).map(i => (i, "s")).toDF("id", "src")
    val rates = Seq(("s", 0.4)).toDF("src", "rate")
    val upstream = Sampling.bernoulli(docs, "id", 0.5)
    // unsalted: the 0.4 rate re-reads the same hash -> all upstream
    // survivors with frac < 0.4 stay = 80% of them
    val unsalted = Sampling.applyRates(upstream, "id", "src", rates).count()
    assert(unsalted > 0.7 * upstream.count(), s"unsalted=$unsalted")
    // salted: independent decision -> ~40% of survivors
    val salted = Sampling.applyRates(upstream, "id", "src", rates,
      salt = "mix").count()
    val frac = salted.toDouble / upstream.count()
    assert(frac > 0.3 && frac < 0.5, s"salted frac=$frac")
  }

  test("applyRates onUnplanned='fail' names the unplanned source; " +
    "'drop' keeps the batch contract (review r12)") {
    import spark.implicits._
    val docs = Seq((1L, "wiki"), (2L, "books"), (3L, "wiki"))
      .toDF("id", "src")
    val rates = Seq(("wiki", 1.0)).toDF("src", "rate")
    // drop (default): unlisted 'books' silently drops — documented
    assert(Sampling.applyRates(docs, "id", "src", rates)
      .select("id").as[Long].collect().toSet == Set(1L, 3L))
    val ex = intercept[Exception] {
      Sampling.applyRates(docs, "id", "src", rates,
        onUnplanned = "fail").collect()
    }
    def rootMsg(t: Throwable): String =
      Option(t.getCause).map(rootMsg).getOrElse(t.getMessage)
    assert((ex.getMessage + rootMsg(ex)).contains("no planned rate"),
      ex.getMessage)
    intercept[IllegalArgumentException] {
      Sampling.applyRates(docs, "id", "src", rates, onUnplanned = "boom")
    }
  }

  test("dsirScores fails loudly when targetPred matches no documents " +
    "(review r12)") {
    val docs = (1L to 50L).map(i => (i, s"alpha beta gamma doc $i", "en"))
      .toDF("doc_id", "text", "lang")
    val ex = intercept[Exception] {
      Sampling.dsirScores(docs, col("lang") === "zz").collect()
    }
    def rootMsg(t: Throwable): String =
      Option(t.getCause).map(rootMsg).getOrElse(t.getMessage)
    assert((ex.getMessage + rootMsg(ex)).contains("matched no documents"),
      s"guard must fire: ${ex.getMessage}")
    // the guard is inert when the target exists
    assert(Sampling.dsirScores(docs, col("lang") === "en").count() == 50)
  }

  private def unimaxMap(totals: Seq[(String, Long)], budget: Long,
      epochs: Int): Map[String, (Long, Double, Double)] = {
    import spark.implicits._
    Sampling.unimaxPlan(totals.toDF("source", "n_tokens"), "source",
        budget, epochs)
      .collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("cap"), r.getAs[Double]("alloc"),
          r.getAs[Double]("epochs"))))
      .toMap
  }

  test("unimax: hand-computed water-filling with both branches") {
    // caps at 2 epochs: a=20, b=40, c=200; budget 100:
    // a capped (100-20 >= 20*2), b capped (100-60 >= 40*1),
    // c at lambda = (100-60)/1 = 40 -> 0.4 epochs
    val m = unimaxMap(Seq(("a", 10L), ("b", 20L), ("c", 100L)), 100L, 2)
    assert(m("a") == ((20L, 20.0, 2.0)))
    assert(m("b") == ((40L, 40.0, 2.0)))
    assert(m("c") == ((200L, 40.0, 0.4)))
    // allocations exhaust the budget exactly when Sum(cap) > budget
    assert(m.values.map(_._2).sum == 100.0)
  }

  test("unimax: Sum(cap) <= budget saturates every source, leftover unallocated") {
    val m = unimaxMap(Seq(("a", 10L), ("b", 20L), ("c", 100L)), 1000L, 2)
    assert(m.values.map(v => v._2 == v._1.toDouble && v._3 == 2.0)
      .forall(identity))
    assert(m.values.map(_._2).sum == 260.0)
  }

  test("unimax: nothing capped -> uniform split; epoch columns compose") {
    val m = unimaxMap(Seq(("a", 100L), ("b", 100L)), 100L, 5)
    assert(m("a") == ((500L, 50.0, 0.5)) && m("b") == ((500L, 50.0, 0.5)))
    import spark.implicits._
    val plan = Sampling.unimaxPlan(
      Seq(("a", 10L), ("b", 20L), ("c", 100L)).toDF("source", "n_tokens"),
      "source", 100L, 2)
    val fl = plan.collect().map(r => r.getAs[String]("source") ->
      ((r.getAs[Long]("full_epochs"), r.getAs[Double]("last_rate")))).toMap
    assert(fl("a") == ((2L, 0.0)) && fl("b") == ((2L, 0.0)))
    assert(fl("c")._1 == 0L && math.abs(fl("c")._2 - 0.4) < 1e-12)
    // expansion: capped sources appear exactly `epochs` times per doc
    val docs = Seq(("a", 1L), ("a", 2L), ("b", 3L), ("c", 4L), ("c", 5L))
      .toDF("source", "id")
    val ex = Sampling.epochExpandFromPlan(docs, "id", "source", plan)
    val per = ex.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(per("a") == 4L && per("b") == 2L)
    // c: 0 full epochs + 40% hash-Bernoulli partial pass over 2 docs
    assert(per.getOrElse("c", 0L) <= 2L)
  }

  test("unimax matches the paper's sequential allocation loop") {
    val tokens = Seq(("s0", 7L), ("s1", 13L), ("s2", 13L), ("s3", 40L),
      ("s4", 160L), ("s5", 900L))
    for ((budget, epochs) <- Seq((200L, 3), (1000L, 2), (5000L, 4),
        (100L, 1))) {
      // reference: ascending by (tokens, source); each source gets
      // min(cap, remaining / remaining-source-count)
      var remaining = budget.toDouble
      val sorted = tokens.sortBy(identity)
      val want = sorted.zipWithIndex.map { case ((s, t), i) =>
        val grant = math.min(t.toDouble * epochs,
          remaining / (sorted.length - i))
        remaining -= grant
        s -> grant
      }.toMap
      val got = unimaxMap(tokens, budget, epochs)
      for ((s, w) <- want)
        assert(math.abs(got(s)._2 - w) < 1e-9,
          s"budget=$budget epochs=$epochs source=$s: ${got(s)._2} vs $w")
    }
  }

  test("unimax validation: duplicates, zero tokens, bad budget/epochs") {
    import spark.implicits._
    def plan(rows: Seq[(String, Long)], b: Long = 100L, e: Int = 2) =
      Sampling.unimaxPlan(rows.toDF("source", "n_tokens"), "source", b, e)
    intercept[IllegalArgumentException] {
      plan(Seq(("a", 10L), ("a", 20L)))
    }
    intercept[IllegalArgumentException] { plan(Seq(("a", 0L))) }
    intercept[IllegalArgumentException] { plan(Seq(("a", 10L)), b = 0L) }
    intercept[IllegalArgumentException] { plan(Seq(("a", 10L)), e = 0) }
    intercept[IllegalArgumentException] { plan(Seq.empty) }
    // int64 overflow guard: a token count that would wrap cap*(n-i)
    intercept[IllegalArgumentException] {
      plan(Seq(("a", Long.MaxValue / 3), ("b", 10L)), e = 2)
    }
  }

  test("groupQuota (optimization r18): bounded-heap keep-set equals the " +
      "window recipe exactly - null group included - and the plan is " +
      "Window-free") {
    import org.apache.spark.sql.expressions.Window
    // null-group rows form ONE quota group (the window-partition
    // semantics the semi-join must preserve via <=>)
    val withNull = (1L to 400L).map(i =>
      (i, if (i % 3 == 0) null else if (i % 2 == 0) "en" else "de"))
      .toDF("id", "lang").repartition(7)
    val w = Window.partitionBy("lang")
      .orderBy(Sampling.hashBucket(col("id")), col("id"))
    val windowed = withNull
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= 10).drop("__rk")
      .select("id").as[Long].collect().toSet
    val got = Sampling.groupQuota(withNull, "id", "lang", cap = 10)
    assert(got.select("id").as[Long].collect().toSet == windowed,
      "keep-set must match the row_number recipe bit-for-bit")
    // output schema is the input's, untouched
    assert(got.columns.toSeq == Seq("id", "lang"))
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      "the exact quota must not per-group window-sort")
    assert(plan.contains("ObjectHashAggregate"), plan.take(400))
  }
}
