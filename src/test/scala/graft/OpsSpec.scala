package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.ops.{Dedup, Similarity}

/** Unit-level checks of the pipeline operators on tiny in-memory data
  * (the sf-level correctness is covered by the driver's DuckDB gate). */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog while the " +
    "patient cat watches from the old wooden fence near the garden gate"
  private lazy val docs = Seq(
    (1L, base),
    (2L, base), // exact dup of 1
    (3L, base.replace("jumps", "leaps")), // near dup of 1 (J ≈ 0.73)
    (4L, "completely different content about spark engines and shuffles"),
    (5L, "El rapido zorro marron salta sobre el perro perezoso y que")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts") {
    val d = Dedup.exact(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d(1L) == 2L) // ids 1,2 collapse, min id kept
    assert(d(3L) == 1L && d(4L) == 1L)
  }

  test("fingerprint dedup is whitespace/case-insensitive") {
    val noisy = Seq((1L, "Hello  World"), (2L, "hello world "), (3L, "other"))
      .toDF("doc_id", "text")
    val d = Dedup.byFingerprint(noisy)
    assert(d.count() == 2)
    assert(d.filter(col("n_copies") === 2).select("keep_id").as[Long].head() == 1L)
  }

  test("minhash LSH finds the near-dup pair and skips distinct docs") {
    val pairs = Dedup.minhashLsh(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    // agrees with the exact O(n^2) variant on this corpus
    val exact = Dedup.ngramJaccardExact(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == exact)
  }

  test("lsh delta index: delta path equals a full recompute's " +
      "delta-touching pairs without re-reading the corpus (d55)") {
    // standing corpus: the near-dup trio + a distinct doc; delta shard
    // arrives with an exact dup of 1 (corpus-delta pair), a near dup
    // of 3 (corpus-delta), a delta-internal near-dup pair (20,21) and
    // one unrelated doc
    val corpusRows = Seq((1L, base), (3L, base.replace("jumps", "leaps")),
      (4L, "completely different content about spark engines and shuffles"))
    val deltaRows = Seq((20L, base), (21L, base + " extra tail words here"),
      (22L, base.replace("jumps", "leaps").replace("dog", "wolf")),
      (23L, "nothing like anything else in this corpus at all truly"))
    val dir = tmpDir("graft-lshidx")
    // corpus from PARQUET so the plan assertion below can prove the
    // delta run never rescans it
    corpusRows.toDF("doc_id", "text").write.parquet(s"$dir/corpus")
    val corpus = spark.read.parquet(s"$dir/corpus")
    Dedup.buildLshIndex(corpus, "doc_id", "text", s"$dir/idx")
    val delta = deltaRows.toDF("doc_id", "text")
    val out = Dedup.dedupDelta(delta, "doc_id", "text", s"$dir/idx")
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // oracle: full recompute over the union, restricted to pairs with
    // a delta (id >= 20) member
    val full = Dedup.minhashLsh((corpusRows ++ deltaRows).toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = full.filter(p => p._1 >= 20L || p._2 >= 20L)
    assert(got == expect, s"delta $got vs full-recompute $expect")
    assert(got.contains((1L, 20L)) && got.contains((20L, 21L)),
      s"expected a corpus-delta and a delta-delta pair in $got")
    assert(!got.exists(p => p._1 < 20L && p._2 < 20L),
      "corpus-corpus pairs are the build's business")
    // plan shape: the delta run scans the index's bands+sets parquet,
    // NEVER the corpus source it was built from (the whole point:
    // delta cost is delta-sized, the standing corpus is not re-read)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("idx/bands") && plan.contains("idx/sets"),
      s"delta plan must read the persisted index:\n$plan")
    assert(!plan.contains("corpus"),
      s"delta plan must not rescan the corpus source:\n$plan")
    // a stats-less path names the failure (meta is the commit marker)
    val ex = intercept[IllegalArgumentException] {
      Dedup.dedupDelta(delta, "doc_id", "text", s"$dir/nothere")
    }
    assert(ex.getMessage.contains("missing or incomplete"), ex.getMessage)
    // the incremental loop: fold the deduped delta INTO the index; a
    // SECOND delta must now pair against both the corpus and shard 1
    Dedup.appendToLshIndex(delta, "doc_id", "text", s"$dir/idx")
    val delta2 = Seq((30L, base), // dup of 1 (corpus) AND 20 (shard 1)
      (31L, "fresh unrelated words that match nothing else at all here"))
      .toDF("doc_id", "text")
    val got2 = Dedup.dedupDelta(delta2, "doc_id", "text", s"$dir/idx")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got2.contains((1L, 30L)) && got2.contains((20L, 30L)),
      s"second delta must pair against corpus AND appended shard: $got2")
    assert(!got2.exists(p => p._2 == 31L), s"unrelated doc pairs nothing: $got2")
    // crash-safety: an ORPHAN shard directory (append died before the
    // meta commit) is invisible — same query, same answer
    Dedup.shingleSets(Seq((99L, base)).toDF("doc_id", "text"),
        "doc_id", "text", 3)
      .write.parquet(s"$dir/idx/sets/shard=9/bucket=0")
    val got3Df = Dedup.dedupDelta(delta2, "doc_id", "text", s"$dir/idx")
    val got3 = got3Df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got3 == got2, s"orphan shard must be pruned: $got3 vs $got2")
    // ...and pruned at PLANNING, not post-scan: the frontier filter
    // must appear as a partition filter on the index scans (the
    // "orphan files are never opened" claim)
    val plan3 = got3Df.queryExecution.executedPlan.toString
    assert(plan3.contains("PartitionFilters") &&
      plan3.contains("(shard"),
      s"shard frontier must be a partition filter:\n$plan3")
    // ...and the verify stage's sets read is pruned to the candidate
    // ids' BUCKETS (VERDICT r14: unbucketed, it re-read the
    // corpus-sized sets table per delta): the bucket restriction must
    // be a partition filter too, so non-candidate buckets' files are
    // never opened
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(plan3).isDefined,
      s"sets read must carry a bucket partition filter:\n$plan3")
  }

  test("lsh delta index: checkIds fails loudly on a re-sent id; " +
      "rebuild invalidates before rewriting (crash = incomplete, " +
      "never complete-but-mixed)") {
    val corpusRows = Seq((1L, base),
      (4L, "completely different content about spark engines and shuffles"))
    val dir = tmpDir("graft-lshguard")
    Dedup.buildLshIndex(corpusRows.toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/idx")
    // disjoint delta passes WITH the guard on
    val ok = Dedup.dedupDelta(Seq((20L, base)).toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/idx", checkIds = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ok == Set((1L, 20L)), ok.toString)
    // re-sent id 1 violates the disjointness precondition: loud, and
    // the message names the offending id
    val ex = intercept[IllegalArgumentException] {
      Dedup.dedupDelta(Seq((1L, base)).toDF("doc_id", "text"),
        "doc_id", "text", s"$dir/idx", checkIds = true)
    }
    assert(ex.getMessage.contains("'1'") &&
      ex.getMessage.contains("disjoint"), ex.getMessage)
    // default-off path is unchanged (no guard scan, no error)
    Dedup.dedupDelta(Seq((21L, base)).toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/idx").collect()
    // the APPEND paths carry the same guard (a duplicate id folded
    // into the index poisons every later delta, not just this one)
    intercept[IllegalArgumentException] {
      Dedup.appendToLshIndex(Seq((1L, base)).toDF("doc_id", "text"),
        "doc_id", "text", s"$dir/idx", checkIds = true)
    }
    // the simhash twin's guard
    val fpOf = (rows: Seq[(Long, String)]) =>
      rows.toDF("doc_id", "text").select(col("doc_id"),
        graft.functions.CatalystFunctions.simhashMd5(
          TextFunctions.words(col("text"))).as("simhash"))
    Dedup.buildSimhashIndex(fpOf(corpusRows), s"$dir/sim")
    val ex2 = intercept[IllegalArgumentException] {
      Dedup.simhashDelta(fpOf(Seq((1L, base))), s"$dir/sim",
        checkIds = true)
    }
    assert(ex2.getMessage.contains("'1'"), ex2.getMessage)
    intercept[IllegalArgumentException] {
      Dedup.appendToSimhashIndex(fpOf(Seq((1L, base))), s"$dir/sim",
        checkIds = true)
    }

    // REBUILD over the standing index: grow it to 2 shards, then
    // rebuild with a corpus whose shingle writes THROW mid-build — the
    // crashed rebuild must read as incomplete (ADVICE r14: before the
    // invalidate-first rule, the OLD meta (shards=1) stood over the
    // partially-deleted tables and readers silently mis-paired)
    Dedup.appendToLshIndex(Seq((30L, base)).toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/idx")
    val boom = org.apache.spark.sql.functions.udf((s: String) =>
      { throw new RuntimeException("boom"); s })
    intercept[Exception] {
      Dedup.buildLshIndex(
        Seq((50L, base)).toDF("doc_id", "text")
          .withColumn("text", boom(col("text"))),
        "doc_id", "text", s"$dir/idx")
    }
    val ex3 = intercept[IllegalArgumentException] {
      Dedup.dedupDelta(Seq((60L, base)).toDF("doc_id", "text"),
        "doc_id", "text", s"$dir/idx")
    }
    assert(ex3.getMessage.contains("missing or incomplete"), ex3.getMessage)
    // ...and a SUCCESSFUL rebuild leaves no stale shard-1 trees behind
    // (sets/bands are cleared up front, not overwritten shard-0-only)
    Dedup.buildLshIndex(corpusRows.toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/idx")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/idx/sets/shard=1")),
      "rebuild must clear the previous build's appended shards")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/idx/bands/shard=1")))
  }

  test("index meta swap-commit: a crashed append's meta rewrite never " +
      "unseats the standing commit marker (ADVICE r14)") {
    val corpusRows = Seq((1L, base),
      (4L, "completely different content about spark engines and shuffles"))
    val dir = tmpDir("graft-metaswap")
    Dedup.buildLshIndex(corpusRows.toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/idx")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = new org.apache.hadoop.fs.Path(s"$dir/idx/meta")
    val next = new org.apache.hadoop.fs.Path(s"$dir/idx/meta.next")

    // crash window A: append died while WRITING meta.next (uncommitted
    // — no _SUCCESS). The standing marker must win and the index stay
    // healthy (the old overwrite protocol had already deleted it here).
    fs.mkdirs(next)
    val out = Dedup.dedupDelta(Seq((20L, base)).toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/idx")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 20L)), out.toString)
    fs.delete(next, true)

    // crash window B: append died BETWEEN the meta.next commit and the
    // swap (main deleted, next committed). The committed next row —
    // whose shard data is durable by write order — must be read.
    Dedup.appendToLshIndex(Seq((20L, base)).toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/idx", tag = "b1")
    fs.rename(meta, next) // simulate: new marker durable, swap unfinished
    val got2 = Dedup.dedupDelta(Seq((30L, base)).toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/idx")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got2 == Set((1L, 30L), (20L, 30L)),
      s"pending-swap marker must commit the appended shard: $got2")
    // the next WRITE heals the pending swap and keeps working
    Dedup.appendToLshIndex(Seq((30L, base)).toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/idx", tag = "b2")
    assert(fs.exists(meta) && !fs.exists(next),
      "the next append must promote the pending marker")
    val got3 = Dedup.dedupDelta(Seq((40L, base)).toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/idx")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got3 == Set((1L, 40L), (20L, 40L), (30L, 40L)), got3.toString)
  }

  test("simhash delta index: pigeonhole-exact delta pairs vs a full " +
      "recompute, append loop, radius travels with the index (d57)") {
    val fpOf = (rows: Seq[(Long, String)]) =>
      rows.toDF("doc_id", "text").select(col("doc_id"),
        graft.functions.CatalystFunctions.simhashMd5(
          TextFunctions.words(col("text"))).as("simhash"))
    val corpusRows = Seq((1L, base), (3L, base.replace("jumps", "leaps")),
      (4L, "completely different content about spark engines and shuffles"))
    val deltaRows = Seq((20L, base), (21L, base + " extra tail words"),
      (23L, "nothing like anything else in this corpus at all truly"))
    val dir = tmpDir("graft-simidx")
    Dedup.buildSimhashIndex(fpOf(corpusRows), s"$dir/idx", maxHamming = 3)
    val got = Dedup.simhashDelta(fpOf(deltaRows), s"$dir/idx")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.simhashPairsFrom(fpOf(corpusRows ++ deltaRows),
        maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = full.filter(p => p._1 >= 20L || p._2 >= 20L)
    assert(got == expect, s"delta $got vs full recompute $expect")
    assert(got.contains((1L, 20L)), s"corpus-delta exact dup in $got")
    // append: a later shard pairs against the folded-in delta
    Dedup.appendToSimhashIndex(fpOf(deltaRows), s"$dir/idx", tag = "b0")
    val got2 = Dedup.simhashDelta(fpOf(Seq((30L, base))), s"$dir/idx")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got2.contains((20L, 30L)) && got2.contains((1L, 30L)), got2.toString)
    // same-tag retry is a no-op
    Dedup.appendToSimhashIndex(fpOf(deltaRows), s"$dir/idx", tag = "b0")
    assert(spark.read.parquet(s"$dir/idx/meta").head().getInt(1) == 1)
    // missing commit marker names the failure
    val ex = intercept[IllegalArgumentException] {
      Dedup.simhashDelta(fpOf(deltaRows), s"$dir/nothere")
    }
    assert(ex.getMessage.contains("missing or incomplete"), ex.getMessage)
  }

  test("simhash pairs near-dups within hamming budget") {
    val pairs = Dedup.simhashPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // identical text, hamming 0
  }

  test("bucket cap drops boilerplate mega-buckets, keeps ordinary pairs") {
    // 30 identical boilerplate docs (one quadratic bucket) + one real
    // near-dup pair: the cap suppresses the boilerplate's C(30,2)
    // explosion while the genuine pair still surfaces
    val boiler = (100L until 130L).map(i => (i, base + " standard footer"))
    val all = (boiler ++ Seq(
      (1L, base), (3L, base.replace("jumps", "leaps")))).toDF("doc_id", "text")
    val uncapped = Dedup.minhashLsh(all).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size >= 30 * 29 / 2, "uncapped finds the full quadratic set")
    val capped = Dedup.minhashLsh(all, maxBucket = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.contains((1L, 3L)), "genuine near-dup pair survives the cap")
    assert(!capped.exists(p => p._1 >= 100L && p._2 >= 100L),
      s"boilerplate bucket suppressed, got ${capped.size} pairs")
    // simhash path: same guard
    val sCapped = Dedup.simhashPairs(all, maxBucket = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!sCapped.exists(p => p._1 >= 100L && p._2 >= 100L))
  }

  test("simhash block layout covers 64 bits with maxHamming+1 blocks") {
    for (h <- Seq(0, 3, 8, 15)) {
      val layout = Dedup.blockLayout(h)
      assert(layout.size == h + 1)
      assert(layout.map(_._3).sum == 64)
      // contiguous, non-overlapping
      layout.sliding(2).foreach {
        case Seq((_, o1, w1), (_, o2, _)) => assert(o1 + w1 == o2)
        case _ =>
      }
    }
  }

  test("simhash pair recall is exact at the configured radius (pigeonhole)") {
    // fingerprints differing in exactly `h` bits SPREAD ACROSS as many
    // blocks as possible — the adversarial case that broke the old
    // fixed 4×16 layout (hamming 4-8 pairs touching all four blocks
    // were silently missed; VERDICT r2 defect #1)
    for (h <- Seq(3, 8)) {
      val bits = (0 until h).map(i => (i * 64) / h) // one per region
      val a = 0x0F0F0F0F0F0F0F0FL
      val b = bits.foldLeft(a)((acc, bit) => acc ^ (1L << bit))
      val fp = Seq((1L, a), (2L, b), (3L, ~a)).toDF("doc_id", "simhash")
      val got = Dedup.simhashPairsFrom(fp, maxHamming = h).collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
      assert(got.keySet == Set((1L, 2L)), s"radius $h: expected exactly (1,2), got ${got.keySet}")
      assert(got((1L, 2L)) == h)
    }
  }

  test("IvfIndex: build once, query many batches, results match one-shot ivfKnn") {
    import graft.ops.IvfIndex
    val corpus = (0 until 60).map(i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 0.7 + d).toFloat))).toDF("id", "vec")
    def batch(lo: Long, hi: Long) = corpus.filter(col("id") >= lo && col("id") < hi)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val idx = IvfIndex.build(corpus, nCells = 6, refineIters = 1)
    try {
      assert(idx.centroids.count() == 6)
      val r1 = idx.query(batch(0, 2), 3, nProbe = 3).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val r2 = idx.query(batch(2, 4), 3, nProbe = 3)
      assert(r1.size == 6 && r2.count() == 6)
      // the index is deterministic: a one-shot ivfKnn with the same
      // parameters returns the same neighbor set
      val oneShot = graft.ops.Similarity
        .ivfKnn(corpus, batch(0, 2), 3, nCells = 6, nProbe = 3, refineIters = 1)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(r1 == oneShot)
    } finally idx.close()
  }

  test("ivf knn auto-sizes cells to sqrt(n) and keeps recall at sf0.01") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = emb.filter(col("id") < 8).select(col("id").as("qid"), col("vec").as("qvec"))
    def topSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = topSet(Similarity.bruteForceKnn(emb, q, 5))
    val approx = topSet(Similarity.ivfKnn(emb, q, 5)) // auto nCells/nProbe
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF auto-sized recall $recall too low at sf0.01")
  }

  test("winnow fingerprints: shared substring guarantee + embedded-doc containment") {
    import graft.functions.TextFunctions
    val common = "the shared middle passage that both documents quote verbatim " +
      "word for word across many characters"
    val data = Seq(
      (1L, s"unique prefix alpha beta. $common"),
      (2L, s"$common and then a completely different ending tail gamma delta"),
      (3L, common), // fully embedded in 1 and 2
      (4L, "nothing in common with the others at all, entirely disjoint text body")
    ).toDF("doc_id", "text")
    val fps = data.select(col("doc_id"),
      TextFunctions.winnowFingerprints(col("text")).as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    // winnowing guarantee: a shared normalized substring of length
    // >= k+w-1 (15) must yield at least one shared fingerprint
    assert(fps(1L).intersect(fps(2L)).nonEmpty)
    // sorted distinct encoding
    assert(fps.values.forall(s => s.toSeq.sorted == s.toSeq.sorted.distinct))

    val pairs = graft.ops.Dedup.winnowOverlapPairs(data, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // doc 3 is contained in both 1 and 2 -> containment ~1.0
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) > 0.9)
    assert(pairs.contains((2L, 3L)) && pairs((2L, 3L)) > 0.9)
    // disjoint doc 4 pairs with nothing
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("substring spans: exact boundaries, min-length threshold, df cap") {
    val share = (1 to 25).map(i => s"common$i").mkString(" ")
    val data = Seq(
      (1L, "p1 p2 p3 p4 p5 " + share + " s1 s2 s3 s4 s5"),
      (2L, "q1 q2 q3 " + share + " t1 t2"),
      (3L, "r1 r2 " + (1 to 19).map(i => s"common$i").mkString(" ")),
      (4L, "totally disjoint bag of words here nine ten eleven twelve thirteen"),
      (5L, "z1 " + (1 to 20).map(i => s"common$i").mkString(" "))
    ).toDF("doc_id", "text")
    val spans = Dedup.substringSpans(data).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    // the full 25-token shared run, located exactly (1-based offsets)
    assert(spans((1L, 2L)) == (6, 4, 25))
    // boundary: exactly minTokens (20) is reported...
    assert(spans((1L, 5L)) == (6, 2, 20))
    assert(spans((2L, 5L)) == (4, 2, 20))
    // ...but 19 shared tokens is not (docs 3-vs-1/2/5), nor doc 4
    assert(spans.keySet == Set((1L, 2L), (1L, 5L), (2L, 5L)))

    // df cap: a run shared by all docs exceeds maxDf -> anchors drop
    val boiler = (1 to 25).map(i => s"b$i").mkString(" ")
    val many = (1L to 5L).map(id => (id, s"u$id " + boiler)).toDF("doc_id", "text")
    assert(Dedup.substringSpans(many).count() == 10)       // C(5,2) pairs
    assert(Dedup.substringSpans(many, maxDf = 4).count() == 0)
  }

  test("substring spans: df cap counts documents, not occurrences") {
    // review r9: one doc repeating a gram internally must not suppress
    // that anchor corpus-wide — df is 3 docs here, total 12 anchors
    val rep = Seq.fill(10)("x1 x2 x3").mkString(" ")
    val data = Seq(
      (1L, "filler one two three " + rep),
      (2L, "p q x1 x2 x3 r s"),
      (3L, "m n x1 x2 x3 r s")
    ).toDF("doc_id", "text")
    val spans = Dedup.substringSpans(data, k = 3, minTokens = 5, maxDf = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(4)).toMap
    // docs 2-3 share the 5-token run "x1 x2 x3 r s"; under the old
    // total-occurrence cap the 'x1 x2 x3' anchor (12 occurrences > 5)
    // vanished and the island shrank below minTokens
    assert(spans.get((2L, 3L)).contains(5), s"got $spans")
  }

  test("remove spans: min-id keeps, overlapping cuts merge, full cut empties") {
    val share = (1 to 25).map(i => s"common$i").mkString(" ")
    val data = Seq(
      (1L, "p1 p2 p3 p4 p5 " + share + " s1 s2 s3 s4 s5"),
      (2L, "q1 q2 q3 " + share + " t1 t2"),
      (3L, "r1 r2 " + (1 to 19).map(i => s"common$i").mkString(" ")),
      (4L, "totally disjoint bag of words here nine ten eleven twelve thirteen"),
      (5L, "z1 " + (1 to 20).map(i => s"common$i").mkString(" ")),
      (9L, share) // pairs with 1, 2 AND 5 -> overlapping cuts [1,26)+[1,21)
    ).toDF("doc_id", "text")
    val out = Dedup.removeSpans(data, Dedup.substringSpans(data))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) == (35, 35L, data.collect()
      .find(_.getLong(0) == 1L).get.getString(1)), "min-id doc keeps everything")
    assert(out(2L) == (30, 5L, "q1 q2 q3 t1 t2"), "span cut, flanks rejoin")
    assert(out(5L) == (21, 1L, "z1"))
    assert(out(3L)._2 == 21L && out(4L)._2 == 11L, "span-free docs intact")
    assert(out(9L) == (25, 0L, ""), "merged overlapping cuts empty the doc")
  }

  test("fixMojibake repairs the table, leaves clean text alone") {
    val cases = Seq(
      (1L, "CafÃ© naÃ¯ve straÃŸe", "Café naïve straße"),
      (2L, "itâ€™s â€œfineâ€¦ reallyâ€“ okâ€”", "it’s “fine… really– ok—"),
      (3L, "90Â° Â© Ã¼ber Ã§a dÃ©jÃ vu", "90° © über ça déjàvu"),
      (4L, "plain ascii text stays put", "plain ascii text stays put"),
      // already-correct non-ASCII must not double-fix: é has no table
      // entry, and the 3-byte punctuation entries run before the
      // 2-byte ones so 'â€™' never loses its 'â' to a shorter match
      (5L, "déjà vu — it’s fine", "déjà vu — it’s fine")
    ).toDF("id", "raw", "expect")
    val out = cases.select(col("id"),
        TextFunctions.fixMojibake(col("raw")).as("got"), col("expect"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2)))
    out.foreach { case (id, (got, exp)) =>
      assert(got == exp, s"case $id: got '$got', expected '$exp'")
    }
  }

  test("clusterBalancedSample: quota per cluster, trained centroids, " +
    "partition-invariant") {
    // three tight direction-clusters in 3-D; cluster 0 has 5 members,
    // cluster 1 has 2 (under quota), cluster 2 has 4
    def jig(i: Int) = 0.01f * i
    val vecs =
      (0 until 5).map(i => (10L + i, Array(1f, jig(i), 0f))) ++
        (0 until 2).map(i => (20L + i, Array(0f, 1f, jig(i)))) ++
        (0 until 4).map(i => (30L + i, Array(jig(i), 0f, 1f)))
    val corpus = vecs.toDF("id", "vec")
    val cent = Seq((0L, Array(1f, 0f, 0f)), (1L, Array(0f, 1f, 0f)),
      (2L, Array(0f, 0f, 1f))).toDF("cell", "cvec")
    val out = Similarity.clusterBalancedSample(corpus, cent, cap = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val byCluster = out.groupBy(_._1)
    assert(byCluster(0L).length == 3 && byCluster(0L).head._2 == 5L,
      "over-quota cluster capped at 3 of its 5 members")
    assert(byCluster(1L).length == 2 && byCluster(1L).head._2 == 2L,
      "under-quota cluster keeps everything")
    assert(byCluster(2L).length == 3 && byCluster(2L).head._2 == 4L)
    assert(byCluster.values.forall(g => g.map(_._4).sorted.sameElements(1 to g.length)),
      "ranks are 1..k within each cluster")
    // every sampled id belongs to the cluster whose axis dominates it
    assert(out.forall { case (cl, _, id, _) => id / 10 - 1 == cl })
    // reruns under a different partitioning reproduce the exact sample
    val out2 = Similarity.clusterBalancedSample(corpus.repartition(7), cent, cap = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(out.sortBy(t => (t._1, t._4)).sameElements(out2.sortBy(t => (t._1, t._4))))
  }

  test("stripHtml: blocks drop with contents, entities decode one level") {
    val cases = Seq(
      (1L, "<html><head><title>T</title><style>p{c:1}</style></head>" +
        "<body><p>hello <b>world</b></p></body></html>", "hello world"),
      (2L, "<script>if (1 < 2) { x(); }</script>after", "after"),
      (3L, "<!-- secret --><p>kept</p>", "kept"),
      (4L, "a &amp;lt; b &amp; c &lt;tag&gt;", "a &lt; b & c <tag>"),
      (5L, "no markup at all", "no markup at all"),
      (6L, "x < y and y > z", "x < y and y > z"), // stray <> not tags
      (7L, "a<br/>b&nbsp;c", "a b c")
    ).toDF("id", "html", "expect")
    val out = cases.select(col("id"),
        TextFunctions.stripHtml(col("html")).as("got"), col("expect"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2)))
    out.foreach { case (id, (got, exp)) =>
      assert(got == exp, s"case $id: got '$got', expected '$exp'")
    }
  }

  test("stripMarkdown: fences drop with contents, links/images keep their " +
    "text, markers strip, underscores survive") {
    val cases = Seq(
      (1L, "# Head\nbody line.", "Head body line."),
      (2L, "```\nsecret code();\n```\nafter", "after"),
      (3L, "~~~\nalso secret\n~~~\nkept", "kept"),
      (4L, "use `foo()` and **bold** or *em* and ~~gone~~ text",
        "use foo() and bold or em and gone text"),
      (5L, "[anchor](http://x/y) then ![alt words](i.png)",
        "anchor then alt words"),
      (6L, "> quote line\n- bullet a\n* bullet b\n3) numbered",
        "quote line bullet a bullet b numbered"),
      (7L, "above\n---\nbelow", "above below"),
      // underscore emphasis is intentionally untouched (identifier
      // ambiguity): the markers survive
      (8L, "snake_case_name and _em_", "snake_case_name and _em_"),
      (9L, "no markup at all", "no markup at all"),
      // review r12: '#42' is prose (CommonMark needs a space after
      // the hashes), setext '=====' underlines strip, and CRLF fences
      // still drop (\r consumed before the $ anchor — java (?m)$
      // matches before \r\n, RE2 does not)
      (10L, "#42 fixed the crash", "#42 fixed the crash"),
      (11L, "Title\n=====\nbody", "Title body"),
      (12L, "```\r\nsecret();\r\n```\r\nafter crlf", "after crlf"),
      // r16 (VERDICT r15 #5): kept code-span content is PROTECTED from
      // the later link/emphasis/marker rules — it survives verbatim
      (13L, "use `arr[0](x)` here", "use arr[0](x) here"),
      (14L, "run `ls -la *.md` and `a + b = c`, keep `# not a header`",
        "run ls -la *.md and a + b = c, keep # not a header"),
      // span at line start: its content must not become a bullet/header
      (15L, "`- not a bullet`\n`## not a header` end",
        "- not a bullet ## not a header end"),
      // unclosed backtick stays literal; a span whose opener is split
      // by a newline re-opens at the closer (java-regex scan parity)
      (16L, "a ` b", "a ` b"),
      (17L, "x `a\nb`c` y", "x `a bc y"),
      // emphasis/links still strip OUTSIDE spans on the same line
      (18L, "**bold** `**kept**` [a](u) `[b](v)`", "bold **kept** a [b](v)")
    ).toDF("id", "md", "expect")
    val out = cases.select(col("id"),
        TextFunctions.stripMarkdown(col("md")).as("got"), col("expect"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2)))
    out.foreach { case (id, (got, exp)) =>
      assert(got == exp, s"case $id: got '$got', expected '$exp'")
    }
  }

  test("differential fuzz: stripMarkdown's codegen'd chain equals a " +
      "driver-side JDK regex replay on adversarial inputs (VERDICT r12 #4)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // scope (the GopherRulesSpec fuzz recipe, adapted): the production
    // path executes the shared TextFunctions.markdownChain through
    // Spark's codegen'd regexp_replace over UTF8String; the reference
    // replays the SAME pass list with java.util.regex over JDK strings
    // on the driver. Divergence would mean Spark-side execution
    // (UTF8String byte offsets, surrogate pairs, codegen splicing,
    // group substitution) disagrees with JDK semantics — the
    // DuckDB/RE2 side of the chain is separately oracle-proven
    // byte-exact by gates d47/d48.
    def jdkChain(s: String, chain: Seq[(String, String)]): String =
      chain.foldLeft(s) { case (acc, (re, repl)) =>
        java.util.regex.Pattern.compile(re).matcher(acc).replaceAll(repl)
      }
    // the protect stage's reference IS a JDK Matcher loop over the
    // span regex — java-regex scan semantics by construction, so the
    // fuzz additionally proves the production segment-fold replicates
    // them (open/close/newline/unclosed cases included)
    def jdkProtect(s: String): String = {
      def esc(x: String) = TextFunctions.mdCodeEscapes.foldLeft(x) {
        case (a, (f, t)) => a.replace(f, t)
      }
      val m = java.util.regex.Pattern.compile("`([^`\\n]*)`").matcher(s)
      val sb = new StringBuffer
      while (m.find())
        m.appendReplacement(sb,
          java.util.regex.Matcher.quoteReplacement(esc(m.group(1))))
      m.appendTail(sb)
      sb.toString
    }
    def reference(s0: String): String = {
      val s = s0.replaceAll("[\\uE001-\\uE00C]", "")
      val stripped = jdkChain(jdkProtect(jdkChain(s,
        TextFunctions.mdFenceChain)), TextFunctions.mdMarkerChain)
      val collapsed = java.util.regex.Pattern
        .compile("[ \\t\\n\\x0B\\f\\r]+").matcher(stripped).replaceAll(" ")
      // Spark trim() strips 0x20 only — String.trim would also eat
      // control chars below 0x20 and silently diverge
      val trimmed =
        collapsed.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
      TextFunctions.mdCodeEscapes.foldLeft(trimmed) {
        case (a, (f, t)) => a.replace(t, f)
      }
    }
    val piece = Gen.oneOf("```", "~~~", "\n", "\r\n", "`code span`", "`",
      "# Title ", "#42", "=====", "> quoted", "- item", "1. item", "2) item",
      "***", "**bold**", "*em*", "~~strike~~", "[text](url)", "![alt](i.png)",
      "(", ")", "[", "]", "*", "_id_", "word", "😀", "İx", "...", "…",
      " ", "\t", "---", "___", "    indented", "~~", "=")
    val gen = Gen.listOfN(10, piece).map(_.mkString(" "))
    val texts = (0 until 400).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(1000L + i))).distinct
    val got = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "md")
      .select(col("id"), TextFunctions.stripMarkdown(col("md")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) == reference(t),
        s"md ${t.map(ch => f"\\u${ch.toInt}%04x").mkString}: spark " +
          s"'${got(i.toLong)}' vs jdk '${reference(t)}'")
    }
  }

  test("bpe train: Sennrich example merges in hand-computed order") {
    // word counts low:5 lower:2 newest:6 widest:3 (the paper's corpus,
    // no end-of-word marker). Hand-computed pair stats give the merge
    // sequence (es, est, lo, low, ew, ewest): (e,s)=9 ties (s,t)=9 and
    // wins lexicographically; (l,o)=7 ties (o,w); at 6 the three-way
    // tie (n,e)/(e,w)/(w,est) goes to (e,w); then (ew,est) beats
    // (n,ew).
    val corpus = (
      Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest") ++ Seq.fill(3)("widest"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    val merges = graft.ops.Bpe.train(corpus, nMerges = 6)
    assert(merges == Seq("e" -> "s", "es" -> "t", "l" -> "o",
      "lo" -> "w", "e" -> "w", "ew" -> "est"))
    // the classic generalization check: "lowest" (unseen) encodes to
    // [low, est] under the learned merges
    val enc = Seq((1L, "lowest")).toDF("doc_id", "text")
      .select(graft.ops.Bpe.encodeCol(
        TextFunctions.words(col("text")), merges).as("b"))
      .select(col("b.n_bpe"), col("b.toks")).head()
    assert(enc.getInt(0) == 2 && enc.getString(1) == "low est")
  }

  test("bpe train is deterministic across partitionings; minFreq stops") {
    val corpus = (Seq.fill(5)("ab ab ra") ++ Seq.fill(3)("ca ab"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val m1 = graft.ops.Bpe.train(corpus, nMerges = 50)
    val m2 = graft.ops.Bpe.train(corpus.repartition(7), nMerges = 50)
    assert(m1 == m2, "merge list must not depend on partitioning")
    // every distinct word here is <= 2 chars post-merge; the loop must
    // stop when the best pair drops under minFreq, not run to nMerges
    assert(m1.length < 50)
  }

  test("bpe byte fallback (r18, VERDICT #3): out-of-alphabet chars " +
      "expand to <0xXX> runs, decodePieces round-trips incl. astral, " +
      "in-alphabet words encode identically to plain encode") {
    import graft.ops.{Bpe, Unigram}
    val merges = Seq("t" -> "h", "th" -> "e")
    def enc(ws: Seq[String], bytes: Boolean) =
      Seq((1L, ws)).toDF("id", "ws")
        .select((if (bytes) Bpe.encodeBytesCol(col("ws"), merges)
                 else Bpe.encodeCol(col("ws"), merges)).as("b"))
        .select(col("b.n_bpe"), col("b.toks")).head()
    // parity: a fully in-alphabet words column is byte-for-byte the
    // plain encode (the fallback must never perturb the d33 contract)
    val plain = enc(Seq("the", "other"), bytes = false)
    assert(enc(Seq("the", "other"), bytes = true) == plain, plain.toString)
    assert(plain.getString(1) == "the | o the r")
    // a mixed token: in-alphabet chars merge, OOV chars byte-expand
    // ('é' = C3 A9, uppercase 'T' = 54 - case is OUTSIDE the training
    // alphabet), and the piece stream round-trips through decodePieces
    val emoji = new String(Character.toChars(0x1F600))
    val word = "Thé" + emoji
    val got = enc(Seq(word), bytes = true)
    val pieces = got.getString(1).split(" ").toSeq
    assert(pieces == Seq("<0x54>", "h", "<0xC3>", "<0xA9>",
      "<0xF0>", "<0x9F>", "<0x98>", "<0x80>"), pieces.toString)
    assert(got.getInt(0) == pieces.length)
    assert(Unigram.decodePieces(pieces) == word,
      "byte pieces must round-trip the original token")
    // merges never straddle a byte piece: 't'+'h' merges only when the
    // chars are REAL alphabet symbols, and an OOV run between two
    // alphabet chars keeps them apart
    val sep = enc(Seq("téh"), bytes = true).getString(1)
    assert(sep == "t <0xC3> <0xA9> h", sep)
  }

  test("bpe encode: scan-merge equals delimited-replace semantics") {
    // "aaa" under merge (a,a): left-to-right non-overlapping -> [aa, a]
    val out = Seq((1L, "aaa banana")).toDF("doc_id", "text")
      .select(graft.ops.Bpe.encodeCol(TextFunctions.words(col("text")),
        Seq("a" -> "a", "a" -> "n", "an" -> "an")).as("b"))
      .select(col("b.toks")).head().getString(0)
    // banana: (a,a) none; (a,n) -> b an an a; (an,an) -> b anan a
    assert(out == "aa a | b anan a")
  }

  test("unigram viterbi: hand-computed segmentations under integer costs") {
    import graft.ops.{Unigram, UnigramModel}
    // the d49 gate shape: singles cost 8, th=11 he=12 in=11 er=12 ing=16
    val pairs = (('a' to 'z').map(c => String.valueOf(c) -> 8)) ++
      Seq("th" -> 11, "he" -> 12, "in" -> 11, "er" -> 12, "ing" -> 16)
    val m = UnigramModel(pairs.map(_._1).toVector,
      pairs.map(p => -p._2.toDouble).toVector, unkLogp = -64.0)
    // there: th+er+e = 31 beats th+e+re(no re piece)=..., t+he+re, chars
    val (s1, p1) = Unigram.viterbi("there", m)
    assert(p1.toSeq == Seq("th", "er", "e") && s1 == -31.0, s"${p1.toSeq} $s1")
    // ingoing: ing+o+ing = 40 (vs in+g+o+ing = 43, chars = 56)
    val (s2, p2) = Unigram.viterbi("ingoing", m)
    assert(p2.toSeq == Seq("ing", "o", "ing") && s2 == -40.0, s"${p2.toSeq} $s2")
    // single unknown char rides the unk fallback; multi-char misses never
    val (s3, p3) = Unigram.viterbi("a9", m) // '9' not in this vocab
    assert(p3.toSeq == Seq("a", "9") && s3 == -72.0, s"${p3.toSeq} $s3")
  }

  test("unigram viterbi tie-break: max score, then fewest pieces, then " +
      "longest last piece") {
    import graft.ops.{Unigram, UnigramModel}
    val m = UnigramModel(
      Vector("a", "b", "c", "ab", "bc"),
      Vector(-1.0, -1.0, -1.0, -2.0, -2.0), unkLogp = -64.0)
    // "ab": score -2 both as [ab] (1 piece) and [a,b] (2) -> fewer wins
    assert(Unigram.viterbi("ab", m)._2.toSeq == Seq("ab"))
    // "abc": [ab,c], [a,bc], [a,b,c] all score -3; np prefers the 2-piece
    // paths; among those the LONGER last piece (bc) wins
    val (s, p) = Unigram.viterbi("abc", m)
    assert(s == -3.0 && p.toSeq == Seq("a", "bc"), s"${p.toSeq} $s")
  }

  test("unigram encode: column form matches the kernel, analysis-time " +
      "type check, null word loud") {
    import graft.ops.{Unigram, UnigramModel}
    val pairs = (('a' to 'z').map(c => String.valueOf(c) -> 8)) ++
      Seq("th" -> 11, "er" -> 12)
    val m = UnigramModel(pairs.map(_._1).toVector,
      pairs.map(p => -p._2.toDouble).toVector, unkLogp = -64.0)
    val r = Seq((1L, "there is"))
      .toDF("doc_id", "text")
      .select(Unigram.encodeCol(TextFunctions.words(col("text")), m).as("u"))
      .select(col("u.n_pieces"), col("u.score"), col("u.toks")).head()
    // there = th er e (-31), is = i s (-16)
    assert(r.getInt(0) == 5 && r.getDouble(1) == -47.0 &&
      r.getString(2) == "th er e | i s", r.toString)
    // raw string column (no words()) must fail at analysis, not runtime
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      Seq((1L, "x")).toDF("doc_id", "text")
        .select(Unigram.encodeCol(col("text"), m)).collect()
    }
    assert(ex.getMessage.contains("array<string>"), ex.getMessage)
  }

  test("d49 gate plan: one map-side codegen pass, no shuffle before the " +
      "presentation sort, no join") {
    val df = graft.queries.Pipeline.all("d49_unigram_encode")(
      spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"unigram encode must not shuffle:\n$plan")
    assert(!plan.contains("Join"), s"no join belongs in this gate:\n$plan")
    assert(df.count() > 0)
  }

  test("unigram n-best: distinct-cost ranks, kbest path order, softmax " +
      "sampling determinism (Kudo 2018 subword regularization)") {
    import graft.ops.{Unigram, UnigramModel}
    val pairs = (('a' to 'z').map(c => String.valueOf(c) -> 8)) ++
      Seq("th" -> 11, "he" -> 12, "in" -> 11, "er" -> 12, "ing" -> 16)
    val m = UnigramModel(pairs.map(_._1).toVector,
      pairs.map(p => -p._2.toDouble).toVector, unkLogp = -64.0)
    // there: best th+er+e = 31, second-distinct th+e+r+e = 35
    assert(Unigram.kbestDistinctCosts("there", m, 2).toSeq == Seq(31.0, 35.0))
    // a word whose every segmentation ties to ONE distinct cost
    val tie = UnigramModel(Vector("a", "b", "c", "ab", "bc"),
      Vector(-1.0, -1.0, -1.0, -2.0, -2.0), unkLogp = -64.0)
    assert(Unigram.kbestDistinctCosts("abc", tie, 3).toSeq == Seq(3.0))
    // kbest paths rank by (score desc, fewer pieces, pinned order)
    val paths = Unigram.kbest("there", m, 3)
    assert(paths(0)._1 == -31.0 && paths(0)._2.toSeq == Seq("th", "er", "e"))
    assert(paths(1)._1 == -35.0 &&
      paths(1)._2.toSeq == Seq("th", "e", "r", "e"))
    // huge alpha recovers Viterbi for any u; alpha 0 samples uniformly
    assert(Unigram.sampleSegmentation("there", m, 2, 100.0, 0.99).toSeq ==
      Seq("th", "er", "e"))
    assert(Unigram.sampleSegmentation("there", m, 2, 0.0, 0.9).toSeq ==
      Seq("th", "e", "r", "e"))
    // column form: same seed = same draw; huge alpha = Viterbi toks
    val df = Seq((1L, "there is nothing here")).toDF("doc_id", "text")
      .select(col("doc_id"), TextFunctions.words(col("text")).as("ws"))
    def sampled(seed: Long, alpha: Double) =
      df.select(Unigram.encodeSampledCol(col("ws"), lit(seed), m,
        k = 4, alpha = alpha).getField("toks")).head().getString(0)
    assert(sampled(7L, 0.2) == sampled(7L, 0.2), "same seed must reproduce")
    assert(sampled(7L, 1000.0) ==
      df.select(Unigram.encodeCol(col("ws"), m).getField("toks"))
        .head().getString(0), "alpha->inf recovers Viterbi")
    // nbestCol agrees with the kernel: best equals encode's -score
    val nb = df.select(Unigram.nbestCol(col("ws"), m).as("u"))
      .select(col("u.total_best"), col("u.total_second"), col("u.n_single"))
      .head()
    val enc = df.select(Unigram.encodeCol(col("ws"), m).getField("score"))
      .head().getDouble(0)
    assert(nb.getDouble(0) == -enc, s"${nb.getDouble(0)} vs ${-enc}")
    assert(nb.getDouble(1) >= nb.getDouble(0))
  }

  test("unigram kbest edge laws: fewer paths than k, unk single in the " +
      "lattice, and d51 total_best equals d49 total_cost per doc") {
    import graft.ops.{Unigram, UnigramModel}
    // singles-only vocab: one segmentation exists; kbest(5) returns it
    val singlesOnly = UnigramModel(Vector("a", "b"),
      Vector(-8.0, -8.0), unkLogp = -64.0)
    val only = Unigram.kbest("ab", singlesOnly, 5)
    assert(only.length == 1 && only(0)._2.toSeq == Seq("a", "b"))
    // an unknown single char rides the unk fallback in EVERY ranked path
    val withUnk = Unigram.kbest("a9", singlesOnly, 3)
    assert(withUnk.forall(_._2.toSeq == Seq("a", "9")) &&
      withUnk.head._1 == -72.0)
    // cross-gate invariant: the n-best gate's rank-1 sum IS the encode
    // gate's total cost on the same corpus slice
    val d49 = graft.queries.Pipeline.all("d49_unigram_encode")(
      spark, "/root/testdata/sf0.001")
      .select("doc_id", "total_cost").as[(Long, Long)].collect().toMap
    val d51 = graft.queries.Pipeline.all("d51_unigram_nbest")(
      spark, "/root/testdata/sf0.001")
      .select("doc_id", "total_best").as[(Long, Long)].collect().toMap
    assert(d49 == d51,
      s"rank-1 n-best must equal Viterbi: ${d49.size} vs ${d51.size} docs")
  }

  test("unigram train: coverage, compression, frequent substrings become " +
      "pieces, deterministic across partitionings") {
    import graft.ops.Unigram
    val corpus = (Seq.fill(8)("banana bandana cabana") ++
      Seq.fill(4)("the other thing on the bank") ++
      Seq.fill(2)("running winning sing"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val m1 = Unigram.train(corpus, vocabSize = 60, maxPieceLen = 3,
      seedSize = 500, iters = 2)
    val m2 = Unigram.train(corpus.repartition(7), vocabSize = 60,
      maxPieceLen = 3, seedSize = 500, iters = 2)
    assert(m1 == m2, "model must not depend on partitioning")
    // coverage: every corpus character is a piece
    val chars = "bananbdcthoeringwunks".toSet
    chars.foreach(c => assert(m1.pieces.contains(String.valueOf(c)),
      s"single '$c' must survive pruning"))
    // a frequent substring ("an" appears 5x per banana-line) is a piece
    assert(m1.pieces.exists(p => p.length >= 2 && p.contains("an")),
      s"expected an 'an'-family piece in ${m1.pieces.filter(_.length >= 2)}")
    // compression: encoding the corpus takes fewer pieces than chars
    val enc = corpus
      .select(Unigram.encodeCol(TextFunctions.words(col("text")), m1).as("u"),
        TextFunctions.words(col("text")).as("ws"))
      .select(col("u.n_pieces").as("np"),
        aggregate(transform(col("ws"), w => length(w)), lit(0),
          (acc, x) => acc + x).as("nc"))
      .agg(sum("np"), sum("nc")).head()
    assert(enc.getLong(0) < enc.getLong(1),
      s"pieces ${enc.getLong(0)} must compress chars ${enc.getLong(1)}")
  }

  test("unigram byte fallback: arbitrary UTF-8 round-trips encode -> " +
      "decode into a closed vocabulary (VERDICT r13 stretch #6)") {
    import graft.ops.{Unigram, UnigramModel}
    // ASCII-only toy vocabulary; anything outside it must byte-expand
    val m = UnigramModel(
      Vector("a", "b", "c", "ab"), Vector(-2.0, -2.0, -2.0, -3.0),
      unkLogp = -10.0)
    val fixtures = Seq("abc", "héllo", "日本語x", "a😀b", "ab c",
      "ab", "über-maß")
    fixtures.foreach { w =>
      val pieces = Unigram.viterbiBytes(w, m)
      // closed vocabulary: every piece is a model piece or a byte piece
      pieces.foreach(p => assert(
        m.pieces.contains(p) || p.matches("<0x[0-9A-F]{2}>"),
        s"'$w' produced open-vocab piece '$p'"))
      assert(Unigram.decodePieces(pieces.toSeq) == w,
        s"'$w' -> ${pieces.mkString("[", ",", "]")} failed to round-trip")
    }
    // in-vocab words never expand (the no-allocation common path)
    assert(Unigram.viterbiBytes("abc", m).toSeq == Seq("ab", "c"))
    // column form: same expansion, n_pieces counts expanded pieces
    val df = Seq((1L, Seq("héllo", "ab"))).toDF("id", "ws")
      .select(col("id"), Unigram.encodeBytesCol(col("ws"), m).as("u"))
      .select(col("id"), col("u.n_pieces"), col("u.toks")).collect().head
    // héllo: h,é(2 bytes),l,l,o -> 1 + 2 + 3 = 6 pieces; ab -> 1
    assert(df.getInt(1) == 7, df.toString)
    assert(df.getString(2).contains("<0xC3> <0xA9>"), df.getString(2))
  }

  test("unigram forward-backward EM: corpus log-likelihood ascends " +
      "monotonically within each prune round, beats hard-EM, " +
      "seeds-to-pieces regression") {
    import graft.ops.Unigram
    val corpus = (Seq.fill(8)("banana bandana cabana") ++
      Seq.fill(4)("the other thing on the bank") ++
      Seq.fill(2)("running winning sing"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val (m, traces) = Unigram.trainEmWithTrace(corpus, vocabSize = 60,
      maxPieceLen = 3, seedSize = 500, iters = 4)
    // the EM guarantee: within a prune round every step's corpus LL is
    // >= the previous step's (tolerance = float accumulation noise)
    traces.foreach { round =>
      round.sliding(2).foreach {
        case Seq(a, b) =>
          assert(b >= a - math.abs(a) * 1e-12,
            s"EM likelihood must ascend: $a -> $b in $round")
        case _ => ()
      }
    }
    assert(traces.nonEmpty && traces.head.size == 4)
    // pruning happened: at least one extra round ran and the final
    // vocabulary respects the budget
    assert(m.pieces.length <= 60, s"budget: ${m.pieces.length}")
    // coverage floor survives likelihood-loss pruning
    "bananbdcthoeringwunks".toSet.foreach((c: Char) =>
      assert(m.pieces.contains(String.valueOf(c)), s"single '$c'"))
    // the EM model's corpus LL is at least the hard-EM model's (soft
    // counts dominate Viterbi-only counts on this corpus)
    val hard = Unigram.train(corpus, vocabSize = 60, maxPieceLen = 3,
      seedSize = 500, iters = 4)
    def corpusLl(model: graft.ops.UnigramModel): Double = {
      val words = Seq.fill(8)("banana bandana cabana").flatMap(_.split(" ")) ++
        Seq.fill(4)("the other thing on the bank").flatMap(_.split(" ")) ++
        Seq.fill(2)("running winning sing").flatMap(_.split(" "))
      words.map(w => Unigram.viterbi(w, model)._1).sum
    }
    assert(corpusLl(m) >= corpusLl(hard) - 1e-9,
      s"soft-EM ${corpusLl(m)} vs hard-EM ${corpusLl(hard)}")
    // determinism: same data, any partitioning -> same model
    val m2 = Unigram.trainEm(corpus.repartition(7), vocabSize = 60,
      maxPieceLen = 3, seedSize = 500, iters = 4)
    assert(m2 == m, "EM model must not depend on partitioning")
    // seeds-to-pieces regression fixture: the frequent 'an'/'na'
    // family must survive as multi-char pieces on this corpus
    val multi = m.pieces.filter(_.length >= 2).toSet
    assert(multi.exists(_.contains("an")), s"an-family in $multi")
    assert(multi.exists(p => p.contains("ing") || p.contains("in")),
      s"ing-family in $multi")
  }

  test("unigram distributed EM: driver-trainer parity, the maxWords cap " +
      "is gone, partition invariance, monotone LL (r15)") {
    import graft.ops.Unigram
    val corpus = (Seq.fill(8)("banana bandana cabana") ++
      Seq.fill(4)("the other thing on the bank") ++
      Seq.fill(2)("running winning sing"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val (md, tracesD) = Unigram.trainEmDistributedWithTrace(corpus,
      vocabSize = 60, maxPieceLen = 3, seedSize = 500, iters = 4)
    val (m, traces) = Unigram.trainEmWithTrace(corpus, vocabSize = 60,
      maxPieceLen = 3, seedSize = 500, iters = 4)
    // same pieces; logp differs only by cross-word float-sum order
    // (the documented jitter — per-word math is the shared emWord)
    assert(md.pieces == m.pieces,
      s"distributed pieces ${md.pieces} vs driver ${m.pieces}")
    md.logp.zip(m.logp).foreach { case (a, b) =>
      assert(math.abs(a - b) <= math.abs(b) * 1e-9 + 1e-12, s"$a vs $b") }
    assert(math.abs(md.unkLogp - m.unkLogp) <= math.abs(m.unkLogp) * 1e-9)
    // LL traces align step for step within the same tolerance, and the
    // EM monotonicity law holds on the distributed trace directly
    assert(tracesD.map(_.size) == traces.map(_.size))
    tracesD.flatten.zip(traces.flatten).foreach { case (a, b) =>
      assert(math.abs(a - b) <= math.abs(b) * 1e-9, s"trace $a vs $b") }
    tracesD.foreach { round =>
      round.sliding(2).foreach {
        case Seq(a, b) =>
          assert(b >= a - math.abs(a) * 1e-9,
            s"EM likelihood must ascend: $a -> $b in $round")
        case _ => ()
      }
    }
    // partitioning must not change WHAT is learned (float jitter moves
    // last bits; pieces and the prune outcome are not knife-edge here)
    val md2 = Unigram.trainEmDistributed(corpus.repartition(7),
      vocabSize = 60, maxPieceLen = 3, seedSize = 500, iters = 4)
    assert(md2.pieces == md.pieces)
    // the point of the distributed trainer: no maxWords dict cap. A
    // capped driver dict drops the rare word 'zq' entirely (its chars
    // never seed); the distributed dict always covers every word.
    val tiny = Seq((1L, "aaa aaa aaa"), (2L, "zq"))
      .toDF("doc_id", "text")
    val capped = Unigram.trainEm(tiny, vocabSize = 20, maxPieceLen = 2,
      seedSize = 10, iters = 1, maxWords = 1, minCount = 1L)
    assert(!capped.pieces.contains("z"),
      s"capped dict should miss 'zq': ${capped.pieces}")
    val full = Unigram.trainEmDistributed(tiny, vocabSize = 20,
      maxPieceLen = 2, seedSize = 10, iters = 1, minCount = 1L)
    assert(full.pieces.contains("z") && full.pieces.contains("q"),
      s"uncapped coverage: ${full.pieces}")
  }

  test("unigram distributed hard-EM: BIT-identical to the uncapped " +
      "driver trainer (integer counts), partition-invariant exactly (r15)") {
    import graft.ops.Unigram
    val corpus = (Seq.fill(8)("banana bandana cabana") ++
      Seq.fill(4)("the other thing on the bank") ++
      Seq.fill(2)("running winning sing"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val md = Unigram.trainDistributed(corpus, vocabSize = 60,
      maxPieceLen = 3, seedSize = 500, iters = 3)
    // Viterbi counts are integers, so distributed sums are exact and
    // order-independent: equality is ==, not tolerance (the soft
    // trainer can only promise piece parity + logp jitter)
    val m = Unigram.train(corpus, vocabSize = 60, maxPieceLen = 3,
      seedSize = 500, iters = 3, maxWords = 1000000)
    assert(md == m,
      "distributed hard-EM must equal the uncapped driver trainer exactly")
    assert(Unigram.trainDistributed(corpus.repartition(7), vocabSize = 60,
      maxPieceLen = 3, seedSize = 500, iters = 3) == md)
    // iters = 0 short-circuit: seeds-only model, still exact
    assert(Unigram.trainDistributed(corpus, vocabSize = 60,
      maxPieceLen = 3, seedSize = 500, iters = 0) ==
      Unigram.train(corpus, vocabSize = 60, maxPieceLen = 3,
        seedSize = 500, iters = 0, maxWords = 1000000))
  }

  test("wordpiece: greedy longest-match encode with [UNK], the " +
      "likelihood objective prefers cohesion over raw count, " +
      "persistence and partition determinism (r15)") {
    import graft.ops.{WordPiece, WordPieceVocab}
    // hand-computed greedy segmentations (longest match at each
    // position; continuation positions probe with ##)
    val v = WordPieceVocab(Vector("a", "b", "c", "d",
      "##a", "##b", "##c", "##d", "ab", "##cd", "abc"))
    assert(WordPiece.encodeWord("abcd", v).toSeq == Seq("abc", "##d"),
      "longest word-initial piece wins even when ab + ##cd uses fewer")
    assert(WordPiece.encodeWord("ab", v).toSeq == Seq("ab"))
    assert(WordPiece.encodeWord("dab", v).toSeq == Seq("d", "##a", "##b"),
      "'ab' is word-initial only; continuations fall back to singles")
    assert(WordPiece.encodeWord("abz", v).toSeq == Seq("[UNK]"))
    assert(WordPiece.encodeWord("za", v).toSeq == Seq("[UNK]"))
    // the WordPiece objective: count(ab)/(count(a)count(b)). 'xy' is
    // 3x more frequent than 'qv', but x and ##y each occur in other
    // words (low cohesion) while q and ##v occur ONLY together —
    // the first learned piece must be qv (raw-count BPE would take a
    // 6-count pair first)
    val corpus = (Seq.fill(6)("xy xz wy") ++ Seq.fill(2)("qv"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val trained = WordPiece.train(corpus, vocabSize = 7, minPairCount = 2L)
    val multis = trained.pieces.filter(p => p.stripPrefix("##").length >= 2)
    assert(multis == Vector("qv"),
      s"likelihood score must pick the cohesive pair: $multis")
    assert(WordPiece.encodeWord("qv", trained).toSeq == Seq("qv"))
    assert(WordPiece.encodeWord("xy", trained).toSeq == Seq("x", "##y"))
    // determinism across partitionings
    assert(WordPiece.train(corpus.repartition(7), vocabSize = 7,
      minPairCount = 2L) == trained)
    // column form matches the kernel; persistence round-trips
    val dir = tmpDir("wp-vocab")
    WordPiece.saveVocab(spark, trained, dir)
    assert(WordPiece.loadVocab(spark, dir) == trained)
    val row = corpus.filter(col("doc_id") === 0L)
      .select(WordPiece.encodeCol(TextFunctions.words(col("text")),
        trained).as("b"))
      .select(col("b.n_wp"), col("b.toks")).collect().head
    assert(row.getInt(0) == 6 && row.getString(1) == "x ##y | x ##z | w ##y",
      row.toString)
  }

  test("tokenizer persistence: unigram model and BPE merges round-trip " +
      "parquet with bit-identical encodes") {
    import graft.ops.{Bpe, Unigram}
    val dir = java.nio.file.Files.createTempDirectory("graft-tok").toString
    val corpus = Seq.fill(6)("banana bandana the other thing")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    // unigram: model fields AND encode output survive the round-trip
    val m = Unigram.train(corpus, vocabSize = 50, maxPieceLen = 3, iters = 1)
    Unigram.save(spark, m, s"$dir/uni")
    val m2 = Unigram.load(spark, s"$dir/uni")
    assert(m2 == m, "unigram model must round-trip exactly")
    def encAll(mm: graft.ops.UnigramModel) = corpus
      .select(Unigram.encodeCol(TextFunctions.words(col("text")), mm)
        .getField("toks")).collect().map(_.getString(0)).toSeq
    assert(encAll(m2) == encAll(m))
    // bpe: merge ORDER survives (the algorithm lives in the order)
    val merges = Bpe.train(corpus, nMerges = 10)
    assert(merges.nonEmpty)
    Bpe.saveMerges(spark, merges, s"$dir/bpe")
    assert(Bpe.loadMerges(spark, s"$dir/bpe") == merges)
    // model saves are swap-committed (r15): simulate a re-train save
    // that crashed mid-write — an UNCOMMITTED <path>.next beside the
    // standing model — and one that crashed mid-swap (main gone,
    // committed .next). The standing model survives the first; the
    // durable newer one wins the second.
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/uni.next"))
    assert(Unigram.load(spark, s"$dir/uni") == m,
      "uncommitted .next must not shadow the standing model")
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/uni.next"), true)
    fs.rename(new org.apache.hadoop.fs.Path(s"$dir/uni"),
      new org.apache.hadoop.fs.Path(s"$dir/uni.next"))
    assert(Unigram.load(spark, s"$dir/uni") == m,
      "a committed pending swap must be readable")
    // the next save heals: main stands again, .next gone
    Unigram.save(spark, m, s"$dir/uni")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/uni")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(s"$dir/uni.next")))
    assert(Unigram.load(spark, s"$dir/uni") == m)
  }

  test("keepBestByScore: best member per cluster survives, ties to the " +
      "smaller id, missing/null scores fail loudly") {
    import graft.ops.Dedup
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 5L))
      .toDF("doc_id", "cluster_id")
    val scores = Seq((1L, 10.0), (2L, 30.0), (3L, 30.0), (4L, 1.0), (5L, 2.0))
      .toDF("doc_id", "score")
    val kept = Dedup.keepBestByScore(labels, scores)
      .filter(col("keep")).select("doc_id").as[Long].collect().toSet
    // cluster 1: docs 2 and 3 tie at 30 -> smaller id 2; singletons keep
    assert(kept == Set(2L, 4L, 5L), s"got $kept")
    val exMissing = intercept[IllegalArgumentException] {
      Dedup.keepBestByScore(labels, scores.filter(col("doc_id") =!= 3L))
    }
    assert(exMissing.getMessage.contains("has no score"), exMissing.getMessage)
    val exNull = intercept[IllegalArgumentException] {
      Dedup.keepBestByScore(labels, Seq((1L, Some(1.0)), (2L, Some(2.0)),
        (3L, None: Option[Double]), (4L, Some(1.0)), (5L, Some(1.0)))
        .toDF("doc_id", "score"))
    }
    assert(exNull.getMessage.contains("null scores"), exNull.getMessage)
  }

  test("quality classifier: learns separable labels, decisions stable") {
    import graft.ops.QualityClassifier
    // good docs speak "quality" vocabulary, bad docs junk vocabulary;
    // held-out docs mix fresh sentences from the same vocabularies
    val good = Seq("clear structured prose with informative content",
      "informative article with clear structured argument",
      "well written prose content with structured detail")
    val bad = Seq("buy now click here cheap deal deal",
      "click cheap deal buy buy now here",
      "cheap click now deal here buy spam")
    val train = (good.map((_, true)) ++ bad.map((_, false)))
      .zipWithIndex.map { case ((t, y), i) => (i.toLong, t, y) }
      .toDF("doc_id", "text", "y")
    val model = QualityClassifier.train(train, col("y"), buckets = 1 << 10)
    val heldOut = Seq(
      (100L, "structured informative prose with clear content", true),
      (101L, "click here buy cheap deal now", false)
    ).toDF("doc_id", "text", "y")
    val margins = QualityClassifier.score(train.unionByName(
        heldOut.select("doc_id", "text", "y")), model)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    (0L to 2L).foreach(i => assert(margins(i) > 0, s"good train doc $i"))
    (3L to 5L).foreach(i => assert(margins(i) < 0, s"bad train doc $i"))
    assert(margins(100L) > 0 && margins(101L) < 0, "held-out generalization")
    // decisions (not bitwise weights) must survive repartitioning
    val m2 = QualityClassifier.train(train.repartition(5), col("y"),
      buckets = 1 << 10)
    val margins2 = QualityClassifier.score(heldOut, m2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(margins2(100L) > 0 && margins2(101L) < 0)
  }

  test("multi-class classifier: learns a separable 3-language corpus, " +
      "held-out generalization, tie goes to the earliest class (d56)") {
    import graft.ops.QualityClassifier
    // three disjoint vocabularies — softmax GD must drive each doc's
    // argmax to its own label
    val en = Seq("the quick brown fox and the lazy dog",
      "a clear day with the bright sun and wind",
      "the old house and a quiet garden path")
    val de = Seq("der schnelle braune fuchs und der faule hund",
      "ein klarer tag mit der hellen sonne und wind",
      "das alte haus und ein stiller garten weg")
    val fr = Seq("le renard brun rapide et le chien paresseux",
      "un jour clair avec le soleil brillant et vent",
      "la vieille maison et un jardin calme chemin")
    val rows = (en.map((_, "en")) ++ de.map((_, "de")) ++ fr.map((_, "fr")))
      .zipWithIndex.map { case ((t, y), i) => (i.toLong, t, y) }
    val train = rows.toDF("doc_id", "text", "lang")
    val model = QualityClassifier.trainMulti(train, col("lang"),
      buckets = 1 << 10, iters = 60)
    assert(model.classes == Vector("de", "en", "fr"), model.classes)
    val heldOut = Seq(
      (100L, "the bright fox and a quiet dog", "en"),
      (101L, "der helle fuchs und ein stiller hund", "de"),
      (102L, "le renard brillant et un chien calme", "fr"))
      .toDF("doc_id", "text", "lang")
    val preds = QualityClassifier.scoreMulti(
        train.unionByName(heldOut), model)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    rows.foreach { case (i, _, y) =>
      assert(preds(i) == y, s"train doc $i: got ${preds(i)}, want $y") }
    assert(preds(100L) == "en" && preds(101L) == "de" && preds(102L) == "fr",
      s"held-out generalization: $preds")
    // decisions survive repartitioning (float-sum jitter must not flip
    // the argmax on a separable corpus)
    val m2 = QualityClassifier.trainMulti(train.repartition(5), col("lang"),
      buckets = 1 << 10, iters = 60)
    val p2 = QualityClassifier.scoreMulti(heldOut, m2)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(p2(100L) == "en" && p2(101L) == "de" && p2(102L) == "fr")
    // sparse relational path: exact-tie argmax goes to the EARLIEST
    // class in the biases order (the oracle's CASE-chain rule)
    val feats = Seq((1L, 7L)).toDF("id", "b")
    val w = Seq((7L, "x", 0.25), (7L, "y", 0.25)).toDF("b", "cls", "w")
    val tied = QualityClassifier.scoreSparseMulti(feats, w,
      Seq("x" -> 0.0, "y" -> 0.0)).collect().head
    assert(tied.getAs[String]("pred") == "x", tied.toString)
    // ...and the order of `biases` decides, not lexicography
    val tied2 = QualityClassifier.scoreSparseMulti(feats, w,
      Seq("y" -> 0.0, "x" -> 0.0)).collect().head
    assert(tied2.getAs[String]("pred") == "y", tied2.toString)
  }

  test("telemetry twins: approx percentiles bounded vs exact, CMS top-k " +
      "never undercounts and coincides with exact at ample width " +
      "(VERDICT r13 stretch #7)") {
    import graft.ops.Telemetry
    // skewed corpus: word w<i> appears ~zipf times across two groups
    val rows = (0 until 400).map { i =>
      val lang = if (i % 2 == 0) "en" else "de"
      val reps = 1 + (400 / (i + 1))
      (i.toLong, lang, (s"w$i " * reps).trim)
    }
    val d = rows.toDF("doc_id", "lang", "text")
      .withColumn("n_words", size(TextFunctions.words(col("text"))))
    // percentiles: exact path matches the d24 shape; approx at high
    // accuracy must land within Spark's rank-error bound (<= n/acc
    // ranks; with acc >> group size that is EXACT)
    val exact = Telemetry.lengthStats(d, "lang", "n_words")
      .collect().map(r => r.getString(0) -> (r.getDouble(4), r.getDouble(5))).toMap
    val approx = Telemetry.lengthStats(d, "lang", "n_words", exact = false,
        accuracy = 100000)
      .collect().map(r => r.getString(0) -> (r.getDouble(4), r.getDouble(5))).toMap
    // approx_percentile returns an OBSERVED value at a rank within the
    // bound; exact `percentile` interpolates between ranks — at 200
    // values per group the two can differ by at most one observed step
    Seq("en", "de").foreach { g =>
      val (e50, e90) = exact(g); val (a50, a90) = approx(g)
      assert(math.abs(a50 - e50) <= 1.0, s"$g p50: approx $a50 vs exact $e50")
      assert(math.abs(a90 - e90) <= 1.0, s"$g p90: approx $a90 vs exact $e90")
    }
    // CMS top-k: estimates never undercount; with width >> vocab and
    // cand >= vocab the top-k SET and ORDER equal the exact path
    val trueCounts = rows.flatMap(_._3.split(" ")).groupBy(identity)
      .map { case (w, g) => w -> g.size.toLong }
    val got = Telemetry.vocabTopKSketch(d, "text", k = 20,
        width = 1 << 14, cand = 512)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    got.foreach { case (w, est) =>
      assert(est >= trueCounts(w), s"CMS must overcount: $w est $est " +
        s"< true ${trueCounts(w)}") }
    val exactTop = trueCounts.toSeq.sortBy { case (w, n) => (-n, w) }.take(20)
    assert(got.toSeq == exactTop,
      s"ample-width sketch must equal exact top-k:\n$got\nvs\n$exactTop")
    // repartitioning must not change the answer (merge path exercised)
    val got2 = Telemetry.vocabTopKSketch(d.repartition(7), "text", k = 20,
        width = 1 << 14, cand = 512)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got2.toSeq == exactTop, "partition-invariant at ample width")
  }

  test("subword features: char n-grams generalize to UNSEEN words where " +
      "word-level features cannot (Bojanowski 2017)") {
    import graft.ops.QualityClassifier
    // two morphology-distinct synthetic languages; every held-out WORD
    // is unseen, only the affixes transfer
    val ingish = Seq("running jumping walking", "singing talking resting",
      "leaping sitting standing")
    val ungish = Seq("zeitung ordnung bildung", "wanderung hoffnung losung",
      "sammlung wirkung haltung")
    val train = (ingish.map((_, "ing")) ++ ungish.map((_, "ung")))
      .zipWithIndex.map { case ((t, y), i) => (i.toLong, t, y) }
      .toDF("doc_id", "text", "lang")
    val heldOut = Seq((100L, "climbing swimming"), (101L, "werbung endung"))
      .toDF("doc_id", "text")
    val sub = QualityClassifier.trainMulti(train, col("lang"),
      buckets = 1 << 12, iters = 60, subwordMin = 3, subwordMax = 4)
    assert(sub.subwordMin == 3, "model carries the featurizer range")
    val p = QualityClassifier.scoreMulti(heldOut, sub)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(p(100L) == "ing" && p(101L) == "ung",
      s"subword model must classify unseen words by affix: $p")
    // persistence: model round-trips parquet with identical predictions
    // AND the featurizer range (scoring cannot silently desync)
    val dir = tmpDir("graft-multimodel")
    QualityClassifier.saveMulti(spark, sub, s"$dir/m")
    val re = QualityClassifier.loadMulti(spark, s"$dir/m")
    // field-wise: Array members make case-class == reference equality
    assert(re.classes == sub.classes &&
      re.weights.map(_.toSeq) == sub.weights.map(_.toSeq) &&
      re.bias.toSeq == sub.bias.toSeq &&
      re.subwordMin == sub.subwordMin && re.subwordMax == sub.subwordMax,
      "multi model must round-trip exactly")
    val p2 = QualityClassifier.scoreMulti(heldOut, re)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(p2 == p, "reloaded model must predict identically")
    // char-gram column: boundary-marked n-grams, short words clamp
    val gs = Seq(Tuple1(Seq("ab"))).toDF("ws")
      .select(QualityClassifier.charGrams(col("ws"), 3, 5).as("g"))
      .collect().head.getSeq[String](0)
    // "<ab>": 3-grams <ab, ab>; 4-gram <ab>; no 5-gram
    assert(gs == Seq("<ab", "ab>", "<ab>"), gs.toString)
  }

  test("language id picks marker language") {
    val langs = docs.select(col("doc_id"),
      TextFunctions.langId(TextFunctions.words(col("text"))).as("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(langs(1L) == "en" && langs(5L) == "es")
  }

  test("shingles: distinct joined n-grams; short docs give empty array") {
    val sh = Seq((1L, "a b c d"), (2L, "a b")).toDF("doc_id", "text")
      .select(col("doc_id"), TextFunctions.shingles(TextFunctions.words(col("text")), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sh(1L) == Seq("a b c", "b c d"))
    assert(sh(2L).isEmpty)
  }

  test("brute-force knn ranks by cosine with deterministic tie-break") {
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(1.0f, 0.05f))
    ).toDF("id", "vec")
    val queries = corpus.filter(col("id") === 0)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val got = Similarity.bruteForceKnn(corpus, queries, 2).collect()
      .map(r => (r.getInt(1), r.getLong(2)))
    assert(got.toSeq == Seq((1, 3L), (2, 1L))) // 3 closer than 1; 2 excluded
  }

  test("matryoshka: prefix truncation renormalizes; funnel knn is exact " +
    "when the shortlist covers the corpus") {
    val m = Similarity.matryoshka(col("vec"), 2)
    val got = Seq((1L, Array(3.0f, 4.0f, 99.0f, 99.0f)),
      (2L, Array(0.0f, 0.0f, 7.0f, 7.0f))).toDF("id", "vec")
      .select(col("id"), m.as("t")).collect()
      .map(r => r.getLong(0) ->
        Option(r.getAs[scala.collection.Seq[Double]]("t"))).toMap
    assert(got(1L).get.toSeq == Seq(0.6, 0.8)) // (3,4)/5 — exact doubles
    assert(got(2L).isEmpty, "all-zero prefix has no direction -> NULL")

    // 12 well-separated 4-d vectors whose 2-d prefixes rank DIFFERENTLY
    // than the full vectors (the tail dominates some sims)
    val corpus = (0 until 12).map { i =>
      (i.toLong, Array((i % 5 + 1).toFloat, (i % 3).toFloat,
        (11 - i).toFloat, (i * i % 7 + 1).toFloat))
    }.toDF("id", "vec")
    val queries = corpus.filter(col("id") < 3)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    def ranks(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val exact = ranks(Similarity.bruteForceKnn(corpus, queries, 5))
    // fetch >= |corpus|-1: every candidate reaches the exact rerank,
    // so the funnel must reproduce the full-dimension ranking
    val funnel = ranks(Similarity.matryoshkaKnn(corpus, queries, 5,
      dims = 2, fetch = 11))
    assert(funnel == exact, s"funnel $funnel vs exact $exact")
    // a tight shortlist is allowed to miss (funnel property), but
    // whatever it returns must be rank-consistent with full cosine
    val tight = Similarity.matryoshkaKnn(corpus, queries, 3, dims = 2,
      fetch = 4).collect()
    assert(tight.nonEmpty)
    intercept[IllegalArgumentException] {
      Similarity.matryoshkaKnn(corpus, queries, 5, dims = 0)
    }
    intercept[IllegalArgumentException] {
      Similarity.matryoshkaKnn(corpus, queries, 5, dims = 2, fetch = 3)
    }
  }

  test("word-less docs never simhash-pair; collapse refuses string ids " +
    "loudly (review r11)") {
    import graft.ops.Dedup
    // punctuation-only / non-Latin docs tokenize empty -> fingerprint 0
    // -> before the guard they ALL paired as hamming-0 duplicates
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "$$$ !!! ???"),
      (3L, "!!!")).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs).collect()
    assert(pairs.isEmpty,
      s"unrelated word-less docs must not pair: ${pairs.toSeq}")
    // integral-id precondition surfaces at the operator contract, not
    // as a mid-job ANSI cast failure
    val sp = Seq(("u1", "u2")).toDF("id_a", "id_b")
    val ex = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(sp)
    }
    assert(ex.getMessage.contains("integral"), ex.getMessage)
    intercept[IllegalArgumentException] {
      Dedup.clusterPairs(sp, Seq("d1").toDF("doc_id"))
    }
    // bands = 0 diagnoses instead of a bare ArithmeticException
    val ex2 = intercept[IllegalArgumentException] {
      Dedup.minhashLsh(docs, bands = 0)
    }
    assert(ex2.getMessage.contains("bands"), ex2.getMessage)
  }

  test("planBands: S-curve inflection nearest the target threshold (MMDS 3.4.3)") {
    // 128 hashes: divisor band counts have inflections (1/b)^(b/128) —
    // b=32 (r=4) sits at 0.42, the log-nearest to 0.5 (and matches
    // minhashLsh's default pairing of 128/32)
    assert(Dedup.planBands(128, 0.5) == 32)
    // high thresholds want FEWER bands (steeper, right-shifted curve):
    // 0.8 picks b=8 (inflection 0.878) over b=16 (0.707)
    assert(Dedup.planBands(128, 0.8) == 8)
    // monotone: raising the threshold never raises the band count
    val ts = Seq(0.1, 0.3, 0.5, 0.7, 0.9)
    val bs = ts.map(Dedup.planBands(128, _))
    assert(bs == bs.sorted.reverse, s"not monotone: $ts -> $bs")
    // returned value always divides numHashes (minhashLsh's contract)
    for (t <- ts; nh <- Seq(64, 128, 200))
      assert(nh % Dedup.planBands(nh, t) == 0)
    intercept[IllegalArgumentException](Dedup.planBands(1, 0.5))
    intercept[IllegalArgumentException](Dedup.planBands(128, 1.0))
    ()
  }

  test("zero-norm embeddings never rank or pair (NaN guard, review r11)") {
    // Spark sorts NaN above every real double and NaN >= t is TRUE, so
    // before the guard a single all-zero embedding (failed embedder
    // output) was the #1 neighbor of every query and a "near-dup" of
    // every row
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 0.0f)), // the broken row
      (3L, Array(1.0f, 0.05f))).toDF("id", "vec")
    val queries = corpus.filter(col("id") === 0)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val knn = Similarity.bruteForceKnn(corpus, queries, 3).collect()
      .map(r => (r.getInt(1), r.getLong(2)))
    assert(knn.toSeq == Seq((1, 3L), (2, 1L)),
      s"zero vec must not rank (and never at #1): ${knn.toSeq}")
    // pair paths: the zero row pairs with nobody, real pairs survive
    val exact = Similarity.cosineNearDupExact(corpus, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(exact.nonEmpty && !exact.exists(p => p._1 == 2L || p._2 == 2L),
      s"zero vec must not pair: ${exact.toSeq}")
    val lsh = Similarity.cosineNearDup(corpus, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!lsh.exists(p => p._1 == 2L || p._2 == 2L))
    // a zero-vector QUERY gets no neighbors instead of k arbitrary rows
    val zq = Seq((9L, Array(0.0f, 0.0f))).toDF("qid", "qvec")
    assert(Similarity.bruteForceKnn(corpus, zq, 3).count() == 0)
    // IVF path: same contract through the index
    val idx = graft.ops.IvfIndex.build(corpus, nCells = 2, refineIters = 0,
      persist = false)
    val ivf = idx.query(queries, 3).collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(!ivf.exists(_._2 == 2L), s"zero vec must not rank via IVF: ${ivf.toSeq}")
  }

  test("ivf knn returns k ranked neighbors from probed cells") {
    val corpus = (0 until 50).map(i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 0.7 + d).toFloat))).toDF("id", "vec")
    val queries = corpus.filter(col("id") < 2)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val got = Similarity.ivfKnn(corpus, queries, 3, nCells = 4, nProbe = 2)
    assert(got.count() == 6)
    assert(got.select("rank").as[Int].collect().toSet == Set(1, 2, 3))
  }

  test("ivf knn recall vs brute force on the driver embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = emb.filter(col("id") < 8).select(col("id").as("qid"), col("vec").as("qvec"))
    def topSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = topSet(Similarity.bruteForceKnn(emb, q, 5))
    val approx = topSet(Similarity.ivfKnn(emb, q, 5, nCells = 8, nProbe = 4))
    val recall = exact.intersect(approx).size.toDouble / exact.size
    // probing half the cells on clustered synthetic data must recover
    // a solid majority of the true neighbors
    assert(recall >= 0.5, s"IVF recall $recall too low")
  }

  private def cosRef(a: Array[Double], b: Array[Double]): Double = {
    val d = a.zip(b).map { case (x, y) => x * y }.sum
    d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
  }

  test("exact cosine near-dup matches brute-force ground truth") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val got = Similarity.cosineNearDupExact(emb, threshold = 0.4).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val v = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val ids = v.keys.toSeq.sorted
    val want = (for {
      i <- ids; j <- ids if i < j
      s = BigDecimal(cosRef(v(i), v(j))).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if s >= 0.4
    } yield ((i, j), s)).toMap
    assert(got.keySet == want.keySet)
    for ((k, s) <- want) assert(math.abs(got(k) - s) <= 1e-4, s"pair $k")
  }

  test("sign-LSH near-dup recalls high-similarity pairs") {
    // constructed corpus: 3 clusters of near-identical vectors (cosine
    // >= 0.99 within a cluster) + noise vectors that share no cluster
    val rnd = new scala.util.Random(7)
    def unit(d: Int): Array[Double] = {
      val a = Array.fill(d)(rnd.nextGaussian()); val n = math.sqrt(a.map(x => x * x).sum)
      a.map(_ / n)
    }
    val dim = 64
    val bases = Seq.fill(3)(unit(dim))
    val members = for {
      (b, ci) <- bases.zipWithIndex
      m <- 0 until 3
    } yield (ci.toLong * 10 + m, b.zip(unit(dim)).map { case (x, e) => x + 0.05 * e })
    val noise = (100 until 130).map(i => (i.toLong, unit(dim)))
    import spark.implicits._
    val df = (members ++ noise).toDF("id", "vec")
    val pairs = Similarity.cosineNearDup(df, threshold = 0.7).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val vm = (members ++ noise).toMap
    // all within-cluster pairs (cosine ~0.995) must be recovered...
    for {
      ci <- 0 until 3; a <- 0 until 3; b <- a + 1 until 3
      k = (ci.toLong * 10 + a, ci.toLong * 10 + b)
    } assert(pairs.contains(k), s"missed within-cluster pair $k")
    // ...every reported sim is exact, ordered, above threshold
    assert(pairs.keys.forall { case (a, b) => a < b })
    for (((a, b), s) <- pairs)
      assert(math.abs(s - cosRef(vm(a).toArray, vm(b).toArray)) < 1e-3)
  }

  // ---- cluster collapse (connected components) ------------------------

  /** Driver-side union-find ground truth for component labels. */
  private def ufComponents(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // label every node with the MIN id of its component
    val byRoot = nodes.groupBy(find)
    byRoot.flatMap { case (_, ns) => val m = ns.min; ns.map(_ -> m) }.toMap
  }

  test("lineDedup drops corpus-repeated lines, keeps order, survives all-boilerplate docs") {
    val d = Seq(
      (1L, "keep one\nCOOKIE BANNER\nkeep two"),
      (2L, "COOKIE BANNER\nother text"),
      (3L, "COOKIE BANNER"), // all lines boilerplate -> empty survivor
      (4L, "unique line a\nunique line b")
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedup(d, minCount = 2).orderBy("doc_id")
      .as[(Long, Int, Long, String)].collect()
    assert(out(0) == (1L, 3, 2L, "keep one\nkeep two"))
    assert(out(1) == (2L, 2, 1L, "other text"))
    assert(out(2) == (3L, 1, 0L, ""))
    assert(out(3) == (4L, 2, 2L, "unique line a\nunique line b"))
  }

  test("lineDedup keepFirst keeps the globally-first occurrence, drops later copies") {
    val d = Seq(
      (1L, "keep one\nCOOKIE BANNER\nkeep two"),
      (2L, "COOKIE BANNER\nother text"),
      (3L, "COOKIE BANNER")
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedup(d, minCount = 2, keepFirst = true).orderBy("doc_id")
      .select("doc_id", "text").as[(Long, String)].collect()
    // first occurrence is (doc 1, pos 1) -> doc 1 keeps the banner
    assert(out(0) == (1L, "keep one\nCOOKIE BANNER\nkeep two"))
    assert(out(1) == (2L, "other text"))
    assert(out(2) == (3L, ""))
  }

  test("lineDedup plan: frequency keyed on the md5 digest, no cartesian") {
    val d = Seq((1L, "a\nb"), (2L, "b\nc")).toDF("doc_id", "text")
    val plan = Dedup.lineDedup(d).queryExecution.executedPlan.toString
    // the counting aggregate's key is the digest, so the shuffle moves
    // 16-byte hashes, not line text
    assert(plan.contains("md5"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("lineDedup: blank-line paragraph separators survive the frequency gate") {
    // every doc uses "" as the paragraph separator, so the empty line's
    // corpus frequency (4) clears minCount — but blank lines are
    // structure, not boilerplate, and must survive unconditionally
    // (ADVICE r5: an ungated "" entry stripped every paragraph break)
    val d = Seq(
      (1L, "para one\n\npara two"),
      (2L, "other one\n\nother two"),
      (3L, "COOKIE BANNER\n\nthird text"),
      (4L, "COOKIE BANNER\n\nfourth text")
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedup(d, minCount = 2).orderBy("doc_id")
      .as[(Long, Int, Long, String)].collect()
    // paragraph structure intact in untouched docs
    assert(out(0) == (1L, 3, 3L, "para one\n\npara two"))
    // the real boilerplate still drops; the separator stays
    assert(out(2) == (3L, 3, 2L, "\nthird text"))
    // keepFirst mode: same survival rule for blanks
    val kf = Dedup.lineDedup(d, minCount = 2, keepFirst = true)
      .filter(col("doc_id") === 2).select("text").as[String].head()
    assert(kf == "other one\n\nother two")
  }

  test("lineDedup counts repeats within one document too") {
    val d = Seq((1L, "same\nsame\nmiddle"), (2L, "other")).toDF("doc_id", "text")
    val out = Dedup.lineDedup(d, minCount = 2).filter(col("doc_id") === 1)
      .select("text").as[String].head()
    assert(out == "middle") // "same" appears twice (in one doc) -> dropped
  }

  test("bloomDecontaminate is bit-identical to the exact broadcast decontaminate") {
    val corpus = docs
    val bench = Seq((100L, base.replace("fox", "wolf")),
      (101L, "nothing in common here at all zzz qqq")).toDF("doc_id", "text")
    val exact = Dedup.decontaminate(corpus, bench).orderBy("doc_id")
      .as[(Long, Long)].collect().toSeq
    val bloom = Dedup.bloomDecontaminate(corpus, bench).orderBy("doc_id")
      .as[(Long, Long)].collect().toSeq
    assert(exact.nonEmpty && bloom == exact)
  }

  test("bloomDecontaminate filters map-side: plan has no join before the bloom probe") {
    val corpus = docs
    val bench = Seq((100L, base)).toDF("doc_id", "text")
    val plan = Dedup.bloomDecontaminate(corpus, bench)
      .queryExecution.executedPlan.toString
    // the bloom probe must appear as a filter condition, proving the
    // corpus side is pruned before any shuffle/join
    assert(plan.contains("might_contain"), s"no bloom probe in plan:\n$plan")
  }

  test("byteSimhash: near-identical binaries land close, different ones far") {
    import graft.ops.Multimodal
    // varied (non-repetitive) payload: every 4-byte chunk distinct, so
    // vote margins are ~sqrt(n) and a 1-byte patch moves few bits
    val payload = Array.tabulate[Byte](800)(i => ((i * 37 + 11) % 251).toByte)
    val patched = payload.clone(); patched(200) = (patched(200) ^ 0x7F).toByte
    val other = Array.tabulate[Byte](800)(i => ((i * 101 + 5) % 241).toByte)
    val d = Seq((1L, payload), (2L, patched), (3L, other))
      .toDF("doc_id", "content")
      .select(col("doc_id"), Multimodal.byteSimhash(col("content")).as("simhash"))
    val sigs = d.as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val near = ham(sigs(1L), sigs(2L))
    val far = ham(sigs(1L), sigs(3L))
    assert(near < 16 && far > near, s"near=$near far=$far")
    // pair generation reuses the text-path blocked join at this radius
    val pairs = Dedup.simhashPairsFrom(d, maxHamming = near)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && !pairs.contains((1L, 3L)))
  }

  test("UrlOps: extract, domains, blocklist filter and audit flags") {
    import graft.ops.UrlOps
    val d = Seq(
      (1L, "intro http://bad.example.com/x then https://ok.example.org end"),
      (2L, "only https://ok.example.org/page here"),
      (3L, "no urls at all")
    ).toDF("doc_id", "text")
    val block = Seq("bad.example.com").toDF("domain")
    assert(UrlOps.filterByBlocklist(d, block).select("doc_id")
      .as[Long].collect().sorted.toSeq == Seq(2L, 3L))
    val audit = UrlOps.auditUrls(d, block).orderBy("doc_id")
      .as[(Long, Int, Int, Int)].collect()
    assert(audit(0) == (1L, 2, 2, 1))
    assert(audit(1) == (2L, 1, 1, 0))
    assert(audit(2) == (3L, 0, 0, 0))
  }

  test("UrlOps: case-variant URLs and subdomains cannot bypass the " +
    "blocklist (review r11)") {
    import graft.ops.UrlOps
    val d = Seq(
      (1L, "see HTTP://Evil.COM/x there"), // scheme+host case variants
      (2L, "cdn at https://www.evil.com/y today"), // subdomain
      (3L, "fine https://evil.com.snopes.example.org debunk"), // NOT a sub
      (4L, "clean https://ok.example.org page")
    ).toDF("doc_id", "text")
    val block = Seq("evil.com").toDF("domain")
    assert(UrlOps.filterByBlocklist(d, block).select("doc_id")
      .as[Long].collect().sorted.toSeq == Seq(3L, 4L),
      "case variants and subdomains must hit; suffix-in-the-middle must not")
    val audit = UrlOps.auditUrls(d, block).orderBy("doc_id")
      .as[(Long, Int, Int, Int)].collect()
    assert(audit.map(_._4).toSeq == Seq(1, 1, 0, 0))
    // null text audits as 0 urls, not the size(null) sentinel
    val withNull = Seq((9L, Option.empty[String])).toDF("doc_id", "text")
    val a9 = UrlOps.auditUrls(withNull, block).head()
    assert(a9.getInt(1) == 0 && a9.getInt(3) == 0, s"got $a9")
  }

  test("UrlOps: sentence-final period never joins the hostname (review r9)") {
    import graft.ops.UrlOps
    // 'visit evil.com.' used to extract domain 'evil.com.' and slip
    // past the blocklist equi-join
    val d = Seq(
      (1L, "visit https://evil.example.com. More text follows"),
      (2L, "path case https://evil.example.com/page. Next sentence"),
      (3L, "clean https://ok.example.org fine")
    ).toDF("doc_id", "text")
    val block = Seq("evil.example.com").toDF("domain")
    assert(UrlOps.filterByBlocklist(d, block).select("doc_id")
      .as[Long].collect().sorted.toSeq == Seq(3L),
      "trailing sentence period must not defeat the blocklist")
    val doms = d.select(col("doc_id"),
        graft.ops.UrlOps.domains(col("text")).as("ds"))
      .as[(Long, Seq[String])].collect().toMap
    assert(doms(1L) == Seq("evil.example.com"))
    assert(doms(2L) == Seq("evil.example.com"))
  }

  test("clusterBalancedSample plan: centroids broadcast; corpus shuffles " +
    "narrow rows only") {
    val corpus = spark.range(0, 512, 1, 8).select(col("id"),
      array((0 until 4).map(d => (col("id") * (d + 1) % 17).cast("float")): _*)
        .as("vec"))
    val cent = corpus.filter(col("id") < 4)
      .select(col("id").as("cell"), col("vec").as("cvec"))
    val plan = Similarity.clusterBalancedSample(corpus, cent, cap = 5)
      .queryExecution.executedPlan.toString
    assert("BroadcastExchange".r.findAllIn(plan).nonEmpty,
      "centroids must broadcast into the scoring pass")
    // the n×C scored rows partial-aggregate map-side: the exchanges
    // carry only the (id, cell) assignment + the per-cluster window
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 2,
      s"corpus payloads must not fan out:\n$plan")
  }

  test("dedupByUrl plan: one digest-keyed exchange, no text shuffle") {
    import graft.ops.UrlOps
    val docs = spark.range(0, 256, 1, 8).select(col("id").as("doc_id"),
      concat(lit("https://h"), (col("id") % 9).cast("string"),
        lit(".ex.org/p?utm_s=x")).as("url"))
    val plan = UrlOps.dedupByUrl(docs, "url")
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"exactly the md5-keyed aggregation exchange:\n$plan")
  }

  test("canonicalizeUrl: case, ports, tracking params, fragments, slashes") {
    import graft.ops.UrlOps
    val cases = Seq(
      (1L, "HTTPS://Ex.ORG:443/Path/?utm_source=a&id=1#frag",
        "https://ex.org/Path?id=1"),
      (2L, "http://ex.org:80/", "http://ex.org"),
      (3L, "https://ex.org/p?utm_a=1&utm_b=2", "https://ex.org/p"),
      (4L, "https://ex.org/p?fbclid=x&q=2&gclid=y", "https://ex.org/p?q=2"),
      // path case is preserved; :8080 is NOT a default port
      (5L, "https://Ex.org:8080/CaseSensitive", "https://ex.org:8080/CaseSensitive"),
      (6L, "https://ex.org", "https://ex.org")
    ).toDF("id", "url", "expect")
    val out = cases.select(col("id"),
        UrlOps.canonicalizeUrl(col("url")).as("got"), col("expect"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2)))
    out.foreach { case (id, (got, exp)) =>
      assert(got == exp, s"case $id: got '$got', expected '$exp'")
    }
    // dedupByUrl collapses surface-noise variants onto the min id
    val docs = Seq(
      (10L, "https://ex.org/a?utm_x=1"),
      (11L, "HTTPS://EX.ORG/a"),
      (12L, "https://ex.org/b")).toDF("doc_id", "url")
    val d = UrlOps.dedupByUrl(docs, "url").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d == Map(10L -> 2L, 12L -> 1L))
  }

  test("dedupByUrl: null URLs are singleton groups, never copies of each other (review r10)") {
    import graft.ops.UrlOps
    val docs = Seq(
      (1L, Some("https://ex.org/a")),
      (2L, Some("https://ex.org/a?utm_x=1")),
      (3L, None),
      (4L, None),
      (5L, None)).toDF("doc_id", "url")
    val d = UrlOps.dedupByUrl(docs, "url").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // applying the keep set preserves every URL-less doc
    assert(d == Map(1L -> 2L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("dedupByUrl: EMPTY/blank URLs are singletons too (ADVICE r10)") {
    import graft.ops.UrlOps
    // canonicalizeUrl('') is '' (non-null): blanks must take the
    // singleton branch or every URL-less doc collapses into one group
    val docs = Seq(
      (1L, "https://ex.org/a"),
      (2L, "https://ex.org/a#frag"),
      (3L, ""),
      (4L, ""),
      (5L, "   "),
      (6L, "\t\n"), // review r11: trim() strips only 0x20
      (7L, " ")).toDF("doc_id", "url")
    val d = UrlOps.dedupByUrl(docs, "url").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d == Map(1L -> 2L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 6L -> 1L, 7L -> 1L))
  }

  test("sampleChunksDf: empty payload yields no chunks; bad params fail loudly") {
    import graft.ops.Multimodal
    val d = Seq(
      (1L, Array[Byte](1, 2, 3, 4, 5)),
      (2L, Array.empty[Byte])
    ).toDF("doc_id", "content")
    val out = Multimodal.sampleChunksDf(d, "content", chunkBytes = 2, stride = 2)
      .select("doc_id", "chunk_idx").as[(Long, Int)].collect()
    // doc 1: chunks 0,1,2 -> stride 2 keeps 0 and 2; doc 2: NONE
    // (review r9: a 0-byte asset used to report one phantom chunk)
    assert(out.toSet == Set((1L, 0), (1L, 2)))
    intercept[IllegalArgumentException] {
      Multimodal.sampleChunksDf(d, "content", chunkBytes = 2, stride = 0)
    }
    intercept[IllegalArgumentException] {
      Multimodal.sampleChunksDf(d, "content", chunkBytes = 0, stride = 1)
    }
    ()
  }

  test("saltedJoin rejects right/full join types (review r9)") {
    import graft.ops.Skew
    val f = Seq((1L, "k")).toDF("v", "k")
    val dim = Seq(("k", "x")).toDF("k", "d")
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(f, dim, "k", joinType = "full")
    }
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(f, dim, "k", joinType = "right_outer")
    }
    ()
  }

  test("auditUrls: duplicated blocklist rows do not fan out the join") {
    import graft.ops.UrlOps
    // a real blocklist file often repeats domains; the left join must
    // see a distinct build side or n_domains inflates (ADVICE r5)
    val d = Seq(
      (1L, "a http://bad.example.com/x b https://ok.example.org c")
    ).toDF("doc_id", "text")
    val block = Seq("bad.example.com", "bad.example.com", "bad.example.com")
      .toDF("domain")
    val audit = UrlOps.auditUrls(d, block)
      .as[(Long, Int, Int, Int)].head()
    assert(audit == (1L, 2, 2, 1))
  }

  test("piiCounts/redactPii find and replace emails, IPs, phones") {
    val d = Seq((1L, "mail a.b+c@ex-1.org or 192.168.0.1 or +41-555-1234 end"),
      (2L, "no pii here")).toDF("doc_id", "text")
    val out = d.select(col("doc_id"),
        TextFunctions.piiCounts(col("text")).as("p"),
        TextFunctions.redactPii(col("text")).as("r"))
      .select(col("doc_id"), col("p.n_emails"), col("p.n_ips"),
        col("p.n_phones"), col("r"))
      .orderBy("doc_id").as[(Long, Int, Int, Int, String)].collect()
    assert(out(0) == (1L, 1, 1, 1, "mail <EMAIL> or <IP> or <PHONE> end"))
    assert(out(1) == (2L, 0, 0, 0, "no pii here"))
  }

  test("connectedComponents labels chains, triangles and hubs with the min id") {
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), // chain 1-2-3-4
      (10L, 11L), (11L, 12L), (10L, 12L), // triangle
      (20L, 21L), (20L, 22L), (20L, 23L)) // star/hub
    val pairs = edges.toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = ufComponents(edges.flatMap(e => Seq(e._1, e._2)).distinct, edges)
    assert(got == want)
  }

  test("connectedComponents resolves a deep path graph (shortcut regime)") {
    // a 120-node chain converges only after the round-3 pointer-jump
    // shortcut kicks in (pure propagation would walk one hop per round
    // past maxIter) — this is the branch shallow near-clique fixtures
    // never reach. Descending ids so min-label propagation has to flow
    // the full length.
    val edges = (1L until 120L).map(i => (120L - i, 121L - i))
    val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b"),
        maxIter = 25).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 120)
    assert(got.forall(_._2 == 1L), "every chain node must label to the min id")
    // two chains + an isolated pair stay separate components
    val edges2 = edges ++ (200L until 250L).map(i => (i, i + 1)) ++ Seq((900L, 901L))
    val got2 = Dedup.connectedComponents(edges2.toDF("id_a", "id_b"),
        maxIter = 25).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2.filter(_._1 <= 120L).forall(_._2 == 1L))
    assert(got2.filter(kv => kv._1 >= 200L && kv._1 <= 250L).forall(_._2 == 200L))
    assert(got2(900L) == 900L && got2(901L) == 900L)
  }

  test("connectedComponents matches union-find on a pseudo-random graph") {
    val rnd = new scala.util.Random(42)
    val n = 200
    val edges = Seq.fill(150)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(e => e._1 != e._2)
    val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    assert(got == ufComponents(nodes, edges))
  }

  test("connectedComponents matches union-find across topologies and seeds") {
    // the frontier/delta rewrite (round 7) is correctness-critical:
    // sweep the regimes it treats differently — near-cliques (converge
    // before the shortcut), deep chains (the shortcut regime), stars
    // (1-hop), and mixtures — each against the driver union-find
    for (seed <- Seq(7, 19, 101)) {
      val rnd = new scala.util.Random(seed)
      val chains = (0 until 4).flatMap { c =>
        val base = 1000L * c + rnd.nextInt(100)
        (0 until 20).map(i => (base + i, base + i + 1))
      }
      val star = (1 to 15).map(i => (5000L, 5000L + rnd.nextInt(400) + i))
      val clique = { val ids = Seq.fill(6)(6000L + rnd.nextInt(300)).distinct
        for (a <- ids; b <- ids if a < b) yield (a, b) }
      val sparse = Seq.fill(60)(
        (7000L + rnd.nextInt(120), 7000L + rnd.nextInt(120)))
        .filter(e => e._1 != e._2)
      val edges = chains ++ star ++ clique ++ sparse
      val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      assert(got == ufComponents(nodes, edges), s"seed $seed diverged")
    }
  }

  test("clusterPairs: every doc labeled, min id canonical, singletons self-clustered") {
    val allDocs = (1L to 8L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val rows = Dedup.clusterPairs(pairs, allDocs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(rows.keySet == (1L to 8L).toSet, "every doc appears exactly once")
    assert(rows(1L) == ((1L, 1)) && rows(2L) == ((1L, 0)) && rows(3L) == ((1L, 0)))
    assert(rows(5L) == ((5L, 1)) && rows(6L) == ((5L, 0)))
    assert(Seq(4L, 7L, 8L).forall(i => rows(i) == ((i, 1))), "singletons self-canonical")
  }

  test("connectedComponents driver fast path matches the distributed labels") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L),
      (22L, 20L), (5L, 40L)).toDF("id_a", "id_b")
    val dist = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toSet
    val fast = Dedup.connectedComponents(pairs, driverThreshold = 1000L)
      .as[(Long, Long)].collect().toSet
    assert(fast == dist && fast.nonEmpty)
    // over-threshold graphs fall through to the distributed path
    val forced = Dedup.connectedComponents(pairs, driverThreshold = 2L)
      .as[(Long, Long)].collect().toSet
    assert(forced == dist)
  }

  test("connectedComponents of an empty pair set is empty") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(empty).count() == 0)
  }

  test("decontaminate flags docs overlapping the benchmark, skips disjoint ones") {
    val bench = Seq((100L, "the secret benchmark passage nobody should train on ever"))
      .toDF("doc_id", "text")
    val train = Seq(
      (1L, "prefix words then the secret benchmark passage nobody should train on ever and a tail"),
      (2L, "entirely unrelated content speaking of spark shuffles and parquet files"),
      (3L, "short")
    ).toDF("doc_id", "text")
    val hits = Dedup.decontaminate(train, bench).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits.contains(1L) && hits(1L) >= 7,
      s"embedded passage must share its 3-gram shingles, got $hits")
    assert(!hits.contains(2L) && !hits.contains(3L))
  }

  test("decontaminate broadcasts the benchmark side; corpus never cartesians") {
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val train = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val plan = Dedup.decontaminate(train, bench)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark shingles must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no all-pairs step:\n$plan")
  }

  test("semanticDedup collapses embedding near-dups to min-id canonicals") {
    val rnd = new scala.util.Random(11)
    def unitv(d: Int): Array[Float] = {
      val a = Array.fill(d)(rnd.nextGaussian())
      val n = math.sqrt(a.map(x => x * x).sum)
      a.map(x => (x / n).toFloat)
    }
    val dim = 16
    // 3 groups of 3 near-identical vectors + far-apart noise
    val bases = Seq.fill(3)(unitv(dim))
    val members = for {
      (b, ci) <- bases.zipWithIndex; m <- 0 until 3
    } yield (ci.toLong * 10 + m,
      b.zip(unitv(dim)).map { case (x, e) => x + 0.02f * e })
    val noise = (100 until 120).map(i => (i.toLong, unitv(dim)))
    val df = (members ++ noise).toDF("id", "vec")
    val out = Similarity.semanticDedup(df, threshold = 0.95, nCells = 4,
        refineIters = 1)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(out.size == members.size + noise.size, "every row labeled")
    // group members share a cluster labeled by the min id; min is canonical
    for (ci <- 0 until 3; m <- 0 until 3) {
      val id = ci.toLong * 10 + m
      assert(out(id)._1 == ci.toLong * 10, s"member $id mislabeled: ${out(id)}")
      assert(out(id)._2 == (if (m == 0) 1 else 0))
    }
    // a random 16-dim pair clears cosine 0.95 with probability ~0:
    // noise stays self-canonical
    assert(noise.forall { case (i, _) => out(i) == ((i, 1)) })
  }

  // ---- native byteStats ----------------------------------------------

  test("byteStats native expression matches the composed-HOF reference form") {
    import graft.ops.Multimodal
    // (empty payloads excluded: the old HOF's sequence(1, 0) descends
    // [1,0] and fabricated diversity 1/256 for zero bytes — the native
    // expression returns the correct 0.0, asserted separately below)
    val data = Seq(
      (1L, "hello world, a plain ascii text payload"),
      (2L, new String(Array.tabulate(2000)(i => (i % 251).toChar))), // > sample window
      (3L, "aaaa") // low diversity
    ).toDF("id", "txt").withColumn("content", col("txt").cast("binary"))
    // the pre-r5 interpreted-HOF formulation, kept here as the reference
    val sampled = substring(col("content"), 1, 1024)
    val hexStr = hex(sampled)
    val bytes = transform(sequence(lit(1), length(sampled)),
      i => hexStr.substr(i * 2 - 1, lit(2)))
    val ref = data.select(col("id"),
        length(col("content")).as("n_bytes"),
        round(size(array_distinct(bytes)).cast("double") / 256.0, 4).as("byte_diversity"),
        hex(substring(col("content"), 1, 8)).as("magic"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2), r.getString(3)))).toMap
    val got = data.select(col("id"), Multimodal.byteStats(col("content")).as("bs"))
      .select(col("id"), col("bs.n_bytes"), col("bs.byte_diversity"), col("bs.magic"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2), r.getString(3)))).toMap
    assert(got == ref)
    // empty payload: size 0, diversity 0.0, empty magic
    val empty = Seq(Tuple1("")).toDF("txt")
      .select(Multimodal.byteStats(col("txt").cast("binary")).as("bs"))
      .select(col("bs.n_bytes"), col("bs.byte_diversity"), col("bs.magic")).head()
    assert(empty.getInt(0) == 0 && empty.getDouble(1) == 0.0 && empty.getString(2) == "")
  }

  test("byteStats plan stays native: no interpreted higher-order function") {
    import graft.ops.Multimodal
    // range source (not a local Seq): a LocalRelation input would let
    // the optimizer evaluate the whole projection eagerly and hide the
    // expression from the plan
    val df = spark.range(3)
      .select(Multimodal.byteStats(col("id").cast("string").cast("binary")).as("bs"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("lambdafunction") && !plan.contains("transform("),
      s"byteStats plan contains an interpreted HOF:\n$plan")
    assert(plan.contains("byte_stats"), s"native byte_stats expression missing:\n$plan")
  }

  // ---- IVF / IVF-PQ persistence ---------------------------------------

  test("IvfIndex save/load round-trips bit-identical query results") {
    import graft.ops.IvfIndex
    val corpus = (0 until 80).map(i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 0.7 + d).toFloat))).toDF("id", "vec")
    val q = corpus.filter(col("id") < 3)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val idx = IvfIndex.build(corpus, nCells = 6, refineIters = 1, persist = false)
    val path = tmpDir("ivf-idx")
    idx.save(path)
    assert(IvfIndex.exists(spark, path))
    val loaded = IvfIndex.load(spark, path, persist = false)
    try {
      assert(loaded.nCells == idx.nCells)
      val a = idx.query(q, 4, nProbe = 3).collect().map(_.toSeq).toSet
      val b = loaded.query(q, 4, nProbe = 3).collect().map(_.toSeq).toSet
      assert(a == b && a.nonEmpty)
    } finally loaded.close()
    // RE-save over the same path (review r9: the old meta marker must
    // be invalidated before the data tables are overwritten — a crash
    // mid-rewrite would otherwise present stale meta + partial tables
    // as a complete index); a completed re-save reads back identically
    idx.save(path)
    assert(IvfIndex.exists(spark, path))
    val reloaded = IvfIndex.load(spark, path, persist = false)
    try {
      val a = idx.query(q, 4, nProbe = 3).collect().map(_.toSeq).toSet
      val b = reloaded.query(q, 4, nProbe = 3).collect().map(_.toSeq).toSet
      assert(a == b && a.nonEmpty)
    } finally reloaded.close()
  }

  test("IvfIndex.append: delta assigns to frozen centroids, standing " +
      "results unchanged, retries no-op, orphan shards pruned") {
    import graft.ops.IvfIndex
    // corpus A clusters near e1, delta B near e2 — disjoint cells, so
    // A-queries' neighborhoods are untouched by the append
    def vecA(i: Int) = Array.tabulate(4)(d =>
      (if (d == 0) 1.0f else 0.01f * ((i + d) % 3)))
    def vecB(i: Int) = Array.tabulate(4)(d =>
      (if (d == 1) 1.0f else 0.01f * ((i + d) % 3)))
    val a = (0 until 20).map(i => (i.toLong, vecA(i))).toDF("id", "vec")
    val b = (100 until 110).map(i => (i.toLong, vecB(i))).toDF("id", "vec")
    val path = tmpDir("ivf-append")
    IvfIndex.build(a, nCells = 2, refineIters = 1, persist = false).save(path)
    val qa = Seq((-1L, vecA(0))).toDF("qid", "qvec")
    val qb = Seq((-2L, vecB(100))).toDF("qid", "qvec")
    val before = IvfIndex.load(spark, path, persist = false)
      .query(qa, 4, nProbe = 2).collect().map(_.toSeq).toSet
    IvfIndex.append(b, path, tag = "day-1")
    val idx2 = IvfIndex.load(spark, path, persist = false)
    // appended vectors are findable: qb's own value ranks its id first
    val hitB = idx2.query(qb, 3, nProbe = 2).collect()
      .map(r => (r.getInt(1), r.getLong(2))).toMap
    assert(hitB(1) == 100L, s"appended vector must rank first: $hitB")
    // A-side results are bit-identical (frozen centroids, disjoint cells)
    val after = idx2.query(qa, 4, nProbe = 2).collect().map(_.toSeq).toSet
    assert(after == before, s"standing results must not move:\n$after\n$before")
    // same-tag retry is a no-op (frontier unchanged)
    def frontier() = { val m = spark.read.parquet(s"$path/meta").head()
      m.getInt(m.fieldIndex("shards")) }
    val f1 = frontier()
    IvfIndex.append(b, path, tag = "day-1")
    assert(frontier() == f1, "same-tag append must be a no-op")
    // orphan shard (crashed append: dir written, meta not) is invisible
    spark.read.parquet(s"$path/assigned").filter(col("shard") <= f1)
      .select("id", "cell", "vec", "nrm")
      .limit(3).withColumn("id", col("id") + 1000)
      .write.parquet(s"$path/assigned/shard=9")
    val idx3 = IvfIndex.load(spark, path, persist = false)
    val after3 = idx3.query(qa, 4, nProbe = 2).collect().map(_.toSeq).toSet
    assert(after3 == before, "orphan shard must be pruned at planning")
  }

  test("IvfIndex.driftStats: in-distribution appends sit near 1.0, a " +
      "shifted distribution crosses the documented rebuild threshold") {
    import graft.ops.IvfIndex
    def vecA(i: Int) = Array.tabulate(4)(d =>
      (if (d == 0) 1.0f else 0.01f * ((i + d) % 3)))
    def vecShift(i: Int) = Array.tabulate(4)(d =>
      (if (d == 2) 1.0f else 0.01f * ((i + d) % 3)))
    val a = (0 until 30).map(i => (i.toLong, vecA(i))).toDF("id", "vec")
    val inDist = (100 until 115).map(i => (i.toLong, vecA(i))).toDF("id", "vec")
    val shifted = (200 until 215).map(i => (i.toLong, vecShift(i)))
      .toDF("id", "vec")
    val path = tmpDir("ivf-drift")
    IvfIndex.build(a, nCells = 2, refineIters = 1, persist = false).save(path)
    IvfIndex.append(inDist, path, tag = "day-1")
    IvfIndex.append(shifted, path, tag = "day-2")
    val d = IvfIndex.driftStats(spark, path).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(3)))).toMap
    assert(d.keySet == Set(0, 1, 2), d.toString)
    assert(d(0)._1 == 30L && d(0)._2 == 1.0, d.toString)
    // same generator, new ids: residuals within sampling noise of the
    // build corpus — well under the rebuild threshold
    assert(d(1)._2 < 1.5, s"in-distribution shard must sit near 1.0: $d")
    // distribution shifted to an untrained direction: residuals blow
    // past the documented drift_ratio > 1.5 rebuild rule
    assert(d(2)._2 > 1.5, s"shifted shard must cross the threshold: $d")
    // probe recall — the telemetry's QUALITY half. Sanity law: with
    // every cell probed the probe path IS exact search (identical
    // float math and tie-break), so every shard reads exactly 1.0
    val pr = IvfIndex.probeRecall(spark, path, k = 3, perShard = 10,
        nProbe = 2).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(pr.keySet == Set(0, 1, 2), pr.toString)
    assert(pr.values.forall(_._1 == 10L), s"perShard cap: $pr")
    assert(pr.values.forall(_._2 == 1.0), s"full probe = exact: $pr")
    // partial probe stays a well-formed [0,1] per-shard number
    val pr1 = IvfIndex.probeRecall(spark, path, k = 3, perShard = 10,
        nProbe = 1).collect().map(_.getDouble(2))
    assert(pr1.length == 3 && pr1.forall(r => r >= 0.0 && r <= 1.0))
  }

  test("cosineNearDup validates band geometry") {
    val df = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f))).toDF("id", "vec")
    // review r11: full-width single band (r = 64) is legal — the mask
    // is all-ones, not the wrapped 0 the r9 guard feared
    assert(Similarity.cosineNearDup(df, bits = 64, bands = 1).count() == 0)
    // > one long of sign bits fails at THIS contract, not inside
    // HyperplaneSig (review r11)
    intercept[IllegalArgumentException] {
      Similarity.cosineNearDup(df, bits = 128, bands = 4)
    }
    intercept[IllegalArgumentException] {
      Similarity.cosineNearDup(df, bits = 50, bands = 8) // 50 % 8 != 0
    }
    ()
  }

  test("IvfPqIndex save/load round-trips bit-identical query results") {
    import graft.ops.IvfPq
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val q = emb.filter(col("id") < 4).select(col("id").as("qid"), col("vec").as("qvec"))
    val idx = IvfPq.build(emb, nCells = 6, m = 8, ks = 16, pqIters = 1,
      persist = false)
    val path = tmpDir("ivfpq-idx")
    idx.save(path)
    assert(IvfPq.exists(spark, path))
    val loaded = IvfPq.load(spark, path, persist = false)
    try {
      val a = idx.query(q, 5, nProbe = 3, fetch = 15).collect().map(_.toSeq).toSet
      val b = loaded.query(q, 5, nProbe = 3, fetch = 15).collect().map(_.toSeq).toSet
      assert(a == b && a.nonEmpty)
      // incomplete save (missing meta marker) is not mistaken for an index
      val partial = tmpDir("ivfpq-partial")
      idx.ivf.centroids.write.parquet(s"$partial/centroids")
      assert(!IvfPq.exists(spark, partial))
    } finally loaded.close()
  }

  test("IvfPq.append: frozen codebook encodes the delta, appended " +
      "vectors findable via exact rerank, standing results unchanged") {
    import graft.ops.IvfPq
    // A clusters near e1, delta B near e2 (disjoint cells — standing
    // query results must be bit-identical after the append)
    def vecA(i: Int) = Array.tabulate(8)(d =>
      (if (d == 0) 1.0f else 0.02f * ((i + d) % 5)))
    def vecB(i: Int) = Array.tabulate(8)(d =>
      (if (d == 1) 1.0f else 0.02f * ((i + d) % 5)))
    val a = (0 until 24).map(i => (i.toLong, vecA(i))).toDF("id", "vec")
    val b = (100 until 112).map(i => (i.toLong, vecB(i))).toDF("id", "vec")
    val path = tmpDir("ivfpq-append")
    IvfPq.build(a, nCells = 2, m = 4, ks = 8, pqIters = 1, persist = false)
      .save(path)
    val qa = Seq((-1L, vecA(0))).toDF("qid", "qvec")
    val qb = Seq((-2L, vecB(100))).toDF("qid", "qvec")
    val before = IvfPq.load(spark, path, persist = false)
      .query(qa, 4, nProbe = 2, fetch = 10).collect().map(_.toSeq).toSet
    IvfPq.append(b, path, tag = "day-1")
    val idx2 = IvfPq.load(spark, path, persist = false)
    // appended vector findable: exact rerank puts qb's own value first
    val hitB = idx2.query(qb, 3, nProbe = 2, fetch = 10).collect()
      .map(r => (r.getInt(1), r.getLong(2))).toMap
    assert(hitB(1) == 100L, s"appended vector must rank first: $hitB")
    // standing A-side results bit-identical (frozen centroids+codebook)
    val after = idx2.query(qa, 4, nProbe = 2, fetch = 10)
      .collect().map(_.toSeq).toSet
    assert(after == before, s"standing results must not move:\n$after\n$before")
    // same-tag retry no-op
    def frontier() = { val m = spark.read.parquet(s"$path/meta").head()
      m.getInt(m.fieldIndex("shards")) }
    val f1 = frontier()
    IvfPq.append(b, path, tag = "day-1")
    assert(frontier() == f1, "same-tag append must be a no-op")
    // drift telemetry: B is a shifted distribution (e2 cluster vs the
    // e1-trained cells), so its shard must cross the rebuild threshold
    val drift = IvfPq.driftStats(spark, path).collect()
      .map(r => r.getInt(0) -> r.getDouble(3)).toMap
    assert(drift(0) == 1.0 && drift(1) > 1.5,
      s"shifted append must surface as drift: $drift")
    // probe recall per shard (the telemetry's quality half)
    val pr = IvfPq.probeRecall(spark, path, k = 3, perShard = 8,
        nProbe = 2, fetch = 12).collect()
      .map(r => r.getInt(0) -> r.getDouble(2)).toMap
    assert(pr.keySet == Set(0, 1) &&
      pr.values.forall(r => r >= 0.0 && r <= 1.0), pr.toString)
    assert(pr(0) >= 0.9, s"build-cluster recall at full probe: $pr")
  }

  test("IvfPq.compact: live shards merge into one — query results " +
      "bit-identical, tag preserved, old dirs swept, leftover garbage " +
      "below base never read, appends continue (r15)") {
    import graft.ops.IvfPq
    def vecA(i: Int) = Array.tabulate(8)(d =>
      (if (d == 0) 1.0f else 0.02f * ((i + d) % 5)))
    def vecB(i: Int) = Array.tabulate(8)(d =>
      (if (d == 1) 1.0f else 0.02f * ((i + d) % 5)))
    val a = (0 until 24).map(i => (i.toLong, vecA(i))).toDF("id", "vec")
    val b1 = (100 until 112).map(i => (i.toLong, vecB(i))).toDF("id", "vec")
    val b2 = (200 until 212).map(i => (i.toLong, vecB(i))).toDF("id", "vec")
    val path = tmpDir("ivfpq-compact")
    IvfPq.build(a, nCells = 2, m = 4, ks = 8, pqIters = 1, persist = false)
      .save(path)
    IvfPq.append(b1, path, tag = "day-1")
    IvfPq.append(b2, path, tag = "day-2")
    def meta() = { val m = spark.read.parquet(s"$path/meta").head()
      (m.getInt(m.fieldIndex("shards")), m.getInt(m.fieldIndex("base")),
        m.getString(m.fieldIndex("tag"))) }
    val qa = Seq((-1L, vecA(0))).toDF("qid", "qvec")
    val qb = Seq((-2L, vecB(100))).toDF("qid", "qvec")
    def results() = {
      val idx = IvfPq.load(spark, path, persist = false)
      (idx.query(qa, 4, nProbe = 2, fetch = 10).collect().map(_.toSeq).toSet,
        idx.query(qb, 4, nProbe = 2, fetch = 10).collect().map(_.toSeq).toSet)
    }
    val before = results()
    IvfPq.compact(spark, path)
    // the merged shard lands at frontier+2 (r16: frontier+1 is append
    // territory - the concurrency-guard namespace split)
    assert(meta() == ((4, 4, "day-2")),
      s"compact must raise base to the merged shard: ${meta()}")
    // frozen centroids + codebook: row encoding is shard-independent,
    // so the merged index answers EXACTLY as the sharded one did
    assert(results() == before)
    assert(IvfPq.exists(spark, path), "compacted index must stay complete")
    // old shard dirs are gone; the merged one is live
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("corpus", "encoded").foreach { t =>
      (0 to 3).foreach(g => assert(!fs.exists(
        new org.apache.hadoop.fs.Path(s"$path/$t/shard=$g")), s"$t/$g"))
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/$t/shard=4")))
    }
    // drift telemetry after compaction: ONE shard, ratio exactly 1.0
    // (the merged population is its own reference)
    val drift = IvfPq.driftStats(spark, path).collect()
      .map(r => r.getInt(0) -> r.getDouble(3)).toMap
    assert(drift == Map(4 -> 1.0), drift.toString)
    // crash-after-commit-before-cleanup simulation: a garbage dir
    // below base (same ids as live rows — if it were read, the rerank
    // join would duplicate result rows) is never selected
    spark.read.parquet(s"$path/corpus/shard=4").write
      .parquet(s"$path/corpus/shard=1")
    assert(results() == before,
      "rows below base must be partition-pruned, not merged in")
    // appends continue on the compacted index; base carries through.
    // (vecB(300) would equal vecB(100) exactly — the %5 pattern — so
    // b3 gets its own axis to make id 300 the unique self-match)
    def vecC(i: Int) = Array.tabulate(8)(d =>
      (if (d == 2) 1.0f else 0.02f * ((i + d) % 7)))
    val b3 = (300 until 306).map(i => (i.toLong, vecC(i))).toDF("id", "vec")
    IvfPq.append(b3, path, tag = "day-3")
    assert(meta() == ((5, 4, "day-3")), meta().toString)
    val idx2 = IvfPq.load(spark, path, persist = false)
    val hit = idx2.query(Seq((-3L, vecC(300))).toDF("qid", "qvec"), 3,
        nProbe = 2, fetch = 10).collect()
      .map(r => (r.getInt(1), r.getLong(2))).toMap
    assert(hit(1) == 300L, s"post-compaction append must be findable: $hit")
    // compacting again folds the new shard in; a further compact with
    // one live shard is a no-op
    IvfPq.compact(spark, path)
    assert(meta() == ((7, 7, "day-3")), meta().toString)
    IvfPq.compact(spark, path)
    assert(meta() == ((7, 7, "day-3")), "single-shard compact must no-op")
  }

  test("Pq.appendOpq: the OPQ+IVF-PQ composition appends under the " +
      "frozen rotation — standing results unchanged, delta findable, " +
      "retry no-op, missing model loud (r15)") {
    import graft.ops.{IvfPq, Pq}
    def vecA(i: Int) = Array.tabulate(8)(d =>
      (if (d == 0) 1.0f else 0.02f * ((i + d) % 5)))
    def vecB(i: Int) = Array.tabulate(8)(d =>
      (if (d == 1) 1.0f else 0.02f * ((i + d) % 5)))
    val a = (0 until 24).map(i => (i.toLong, vecA(i))).toDF("id", "vec")
    val b = (100 until 112).map(i => (i.toLong, vecB(i))).toDF("id", "vec")
    val opqPath = tmpDir("opq-model")
    val (cb, r) = Pq.trainOpq(a, "id", "vec", m = 4, ks = 8, iters = 1,
      opqIters = 2)
    Pq.saveOpq(opqPath, cb, r, spark)
    // index path keyed by the rotation hash (the e10 rule the helper
    // documents); corpus and queries both live in the rotated space
    val idxPath = tmpDir(s"opq-ivfpq-${Pq.rotationHash(r)}")
    IvfPq.build(a.select(col("id"), Pq.matVecCol(col("vec"), r, 8).as("vec")),
      nCells = 2, m = 4, ks = 8, pqIters = 1, persist = false).save(idxPath)
    def rotQ(df: org.apache.spark.sql.DataFrame) =
      df.select(col("qid"), Pq.matVecCol(col("qvec"), r, 8).as("qvec"))
    val qa = rotQ(Seq((-1L, vecA(0))).toDF("qid", "qvec"))
    val qb = rotQ(Seq((-2L, vecB(100))).toDF("qid", "qvec"))
    val before = IvfPq.load(spark, idxPath, persist = false)
      .query(qa, 4, nProbe = 2, fetch = 10).collect().map(_.toSeq).toSet
    Pq.appendOpq(b, "id", "vec", opqPath, idxPath, tag = "day-1")
    val idx2 = IvfPq.load(spark, idxPath, persist = false)
    // the delta vector is findable through the rotated probe path:
    // exact rerank is rotation-invariant, so its own value ranks first
    val hitB = idx2.query(qb, 3, nProbe = 2, fetch = 10).collect()
      .map(row => (row.getInt(1), row.getLong(2))).toMap
    assert(hitB(1) == 100L, s"appended vector must rank first: $hitB")
    // frozen rotation + centroids + codebook: standing results exact
    val after = idx2.query(qa, 4, nProbe = 2, fetch = 10)
      .collect().map(_.toSeq).toSet
    assert(after == before, s"standing results must not move:\n$after\n$before")
    // tag idempotence rides through the composition
    def frontier() = { val m = spark.read.parquet(s"$idxPath/meta").head()
      m.getInt(m.fieldIndex("shards")) }
    val f1 = frontier()
    Pq.appendOpq(b, "id", "vec", opqPath, idxPath, tag = "day-1")
    assert(frontier() == f1, "same-tag appendOpq must be a no-op")
    // a missing/incomplete OPQ model fails loudly BEFORE touching the
    // index (appending unrotated data would corrupt it silently)
    val ex = intercept[IllegalArgumentException] {
      Pq.appendOpq(b, "id", "vec", tmpDir("opq-none"), idxPath, tag = "x")
    }
    assert(ex.getMessage.contains("missing or incomplete"), ex.getMessage)
    assert(frontier() == f1)
  }

  test("OPQ rotation pin: a retrained model at the same path fails the " +
      "next appendOpq loudly naming both hashes; plain append on a " +
      "pinned index refuses; checkRotation guards the query path (r16)") {
    import graft.ops.{IvfPq, Pq}
    def vecA(i: Int) = Array.tabulate(8)(d =>
      (if (d == 0) 1.0f else 0.02f * ((i + d) % 5)))
    def vecB(i: Int) = Array.tabulate(8)(d =>
      (if (d == 1) 1.0f else 0.02f * ((i + d) % 5)))
    val a = (0 until 24).map(i => (i.toLong, vecA(i))).toDF("id", "vec")
    val b = (100 until 106).map(i => (i.toLong, vecB(i))).toDF("id", "vec")
    val opqPath = tmpDir("opq-pin-model")
    val (cb, r) = Pq.trainOpq(a, "id", "vec", m = 4, ks = 8, iters = 1,
      opqIters = 1)
    Pq.saveOpq(opqPath, cb, r, spark)
    val idxPath = tmpDir("opq-pin-idx")
    // save WITH the pin (the r16 contract; e10 does the same)
    IvfPq.build(a.select(col("id"), Pq.matVecCol(col("vec"), r, 8).as("vec")),
        nCells = 2, m = 4, ks = 8, pqIters = 1, persist = false)
      .save(idxPath, rot = Pq.rotationHash(r))
    assert(IvfPq.rotationPin(spark, idxPath) == Pq.rotationHash(r))
    Pq.appendOpq(b, "id", "vec", opqPath, idxPath, tag = "day-1")
    // retrain the model IN PLACE (different opqIters -> different R):
    // the exact silent-mix scenario VERDICT r15 #2 named
    val (cb2, r2) = Pq.trainOpq(a, "id", "vec", m = 4, ks = 8, iters = 1,
      opqIters = 2)
    assert(Pq.rotationHash(r2) != Pq.rotationHash(r),
      "fixture must produce a genuinely different rotation")
    Pq.saveOpq(opqPath, cb2, r2, spark)
    val c = (200 until 206).map(i => (i.toLong, vecB(i))).toDF("id", "vec")
    val ex = intercept[IllegalArgumentException] {
      Pq.appendOpq(c, "id", "vec", opqPath, idxPath, tag = "day-2")
    }
    assert(ex.getMessage.contains(Pq.rotationHash(r)) &&
      ex.getMessage.contains(Pq.rotationHash(r2)),
      s"mismatch must name both hashes: ${ex.getMessage}")
    // a PLAIN append (no rotation claim) on a pinned index is the same
    // bug - unrotated vectors into a rotated codes table
    val ex2 = intercept[IllegalArgumentException] {
      IvfPq.append(c, idxPath, tag = "day-2")
    }
    assert(ex2.getMessage.contains("pinned to OPQ rotation"),
      ex2.getMessage)
    // query-path guard: the retrained model fails checkRotation; the
    // original passes
    val ex3 = intercept[IllegalArgumentException] {
      Pq.checkRotation(spark, idxPath, r2)
    }
    assert(ex3.getMessage.contains(Pq.rotationHash(r2)), ex3.getMessage)
    Pq.checkRotation(spark, idxPath, r)
    // nothing committed by the refusals: frontier still day-1's
    val m = spark.read.parquet(s"$idxPath/meta").head()
    assert(m.getInt(m.fieldIndex("shards")) == 1 &&
      m.getString(m.fieldIndex("tag")) == "day-1")
    // a legacy UNPINNED index adopts the pin on its first appendOpq
    val legacy = tmpDir("opq-pin-legacy")
    IvfPq.build(a.select(col("id"), Pq.matVecCol(col("vec"), r2, 8).as("vec")),
        nCells = 2, m = 4, ks = 8, pqIters = 1, persist = false)
      .save(legacy)
    assert(IvfPq.rotationPin(spark, legacy) == "")
    Pq.appendOpq(b, "id", "vec", opqPath, legacy, tag = "day-1")
    assert(IvfPq.rotationPin(spark, legacy) == Pq.rotationHash(r2),
      "first rotated append must pin a legacy index")
  }

  test("dedup-index compaction: LSH and SimHash shards merge into one - " +
      "delta pairs bit-identical, tag preserved, bucket pruning " +
      "survives, repeat-compact no-op, garbage swept, CAS-guarded (r16)") {
    import graft.ops.IvfIndex
    val corpusRows = Seq((1L, base), (3L, base.replace("jumps", "leaps")),
      (4L, "completely different content about spark engines and shuffles"))
    val d1 = Seq((20L, base), (21L, base + " extra tail words here"))
    val d2 = Seq((30L, base.replace("jumps", "leaps").replace("dog", "wolf")))
    val probeRows = Seq((40L, base), (41L, base + " extra tail words here"),
      (42L, "nothing like anything else in this corpus at all truly"))

    // --- LSH family ---
    val dir = tmpDir("graft-lsh-compact")
    Dedup.buildLshIndex(corpusRows.toDF("doc_id", "text"), "doc_id", "text",
      s"$dir/idx")
    Dedup.appendToLshIndex(d1.toDF("doc_id", "text"), "doc_id", "text",
      s"$dir/idx", tag = "b1")
    Dedup.appendToLshIndex(d2.toDF("doc_id", "text"), "doc_id", "text",
      s"$dir/idx", tag = "b2")
    val probe = probeRows.toDF("doc_id", "text")
    def pairs() = Dedup.dedupDelta(probe, "doc_id", "text", s"$dir/idx")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def meta() = { val m = spark.read.parquet(s"$dir/idx/meta").head()
      (m.getInt(m.fieldIndex("shards")), m.getInt(m.fieldIndex("base")),
        m.getString(m.fieldIndex("tag"))) }
    val before = pairs()
    assert(before.exists(p => p._1 == 20L && p._2 == 40L),
      s"fixture must pair against an appended shard: $before")
    Dedup.compactLshIndex(spark, s"$dir/idx")
    // merged shard at frontier+2 (the concurrency-guard namespace
    // split), base raised, tag preserved for append-retry idempotence
    assert(meta() == ((4, 4, "b2")), meta().toString)
    // sketches are stored values: delta pairs are bit-identical
    val afterDf = Dedup.dedupDelta(probe, "doc_id", "text", s"$dir/idx")
    assert(afterDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet == before,
      "post-compact delta pairs must be bit-identical")
    // the bucket-pruned verify read survives the merge (the d55 rule)
    val plan = afterDf.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(plan).isDefined,
      s"sets read must keep its bucket partition filter post-compact:\n$plan")
    // old dirs swept; merged dir live
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("sets", "bands").foreach { t =>
      (0 to 3).foreach(g => assert(!fs.exists(
        new org.apache.hadoop.fs.Path(s"$dir/idx/$t/shard=$g")), s"$t/$g"))
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/idx/$t/shard=4")))
    }
    // tag preservation keeps a crashed b2 retry a no-op post-compact
    Dedup.appendToLshIndex(d2.toDF("doc_id", "text"), "doc_id", "text",
      s"$dir/idx", tag = "b2")
    assert(meta() == ((4, 4, "b2")), "same-tag retry must stay a no-op")
    // the incremental loop continues on the merged layout
    Dedup.appendToLshIndex(Seq((50L, base)).toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/idx", tag = "b3")
    assert(meta() == ((5, 4, "b3")), meta().toString)
    val got2 = Dedup.dedupDelta(Seq((60L, base)).toDF("doc_id", "text"),
        "doc_id", "text", s"$dir/idx")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got2.contains((1L, 60L)) && got2.contains((50L, 60L)),
      s"post-compact delta must pair against merged AND new shards: $got2")
    // repeat compact folds the new shard; a further one no-ops AND
    // sweeps crash garbage below base (the ADVICE r15 early-return fix)
    Dedup.compactLshIndex(spark, s"$dir/idx")
    assert(meta() == ((7, 7, "b3")), meta().toString)
    spark.read.parquet(s"$dir/idx/bands/shard=7").write
      .parquet(s"$dir/idx/bands/shard=2") // crashed-cleanup garbage
    Dedup.compactLshIndex(spark, s"$dir/idx")
    assert(meta() == ((7, 7, "b3")), "single-live-shard compact must no-op")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/idx/bands/shard=2")), "no-op compact must sweep below base")
    // CAS: a compact racing a committed append loses loudly; the
    // winner's commit stands and a retried compact merges everything
    def onceCas(f: => Unit): Unit =
      IvfIndex.beforeCasCommit = () => {
        IvfIndex.beforeCasCommit = () => (); f
      }
    try {
      // two live shards first, or compact takes the single-shard
      // early return and never reaches the CAS
      Dedup.appendToLshIndex(Seq((65L, base)).toDF("doc_id", "text"),
        "doc_id", "text", s"$dir/idx", tag = "b4")
      assert(meta() == ((8, 7, "b4")), meta().toString)
      onceCas { Dedup.appendToLshIndex(
        Seq((70L, base)).toDF("doc_id", "text"), "doc_id", "text",
        s"$dir/idx", tag = "racer") }
      val ex = intercept[java.util.ConcurrentModificationException] {
        Dedup.compactLshIndex(spark, s"$dir/idx")
      }
      assert(ex.getMessage.contains("lost the commit race"), ex.getMessage)
      assert(meta() == ((9, 7, "racer")),
        s"racing append (winner) must stand: ${meta()}")
      Dedup.compactLshIndex(spark, s"$dir/idx")
      assert(meta() == ((11, 11, "racer")), meta().toString)
      val got3 = Dedup.dedupDelta(Seq((80L, base)).toDF("doc_id", "text"),
          "doc_id", "text", s"$dir/idx")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got3.contains((70L, 80L)) && got3.contains((1L, 80L)),
        s"winner's rows must survive the raced compact: $got3")
    } finally IvfIndex.beforeCasCommit = () => ()

    // --- SimHash family ---
    val sdir = tmpDir("graft-sim-compact")
    Dedup.buildSimhashIndex(
      Dedup.simhash(corpusRows.toDF("doc_id", "text")), s"$sdir/idx")
    Dedup.appendToSimhashIndex(
      Dedup.simhash(d1.toDF("doc_id", "text")), s"$sdir/idx", tag = "b1")
    Dedup.appendToSimhashIndex(
      Dedup.simhash(d2.toDF("doc_id", "text")), s"$sdir/idx", tag = "b2")
    val sProbe = Dedup.simhash(probe)
    def sPairs() = Dedup.simhashDelta(sProbe, s"$sdir/idx")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    def sMeta() = { val m = spark.read.parquet(s"$sdir/idx/meta").head()
      (m.getInt(m.fieldIndex("shards")), m.getInt(m.fieldIndex("base")),
        m.getString(m.fieldIndex("tag"))) }
    val sBefore = sPairs()
    assert(sBefore.exists(p => p._1 == 20L && p._2 == 40L), sBefore.toString)
    Dedup.compactSimhashIndex(spark, s"$sdir/idx")
    assert(sMeta() == ((4, 4, "b2")), sMeta().toString)
    assert(sPairs() == sBefore,
      "post-compact simhash delta pairs must be bit-identical")
    (0 to 3).foreach(g => assert(!fs.exists(
      new org.apache.hadoop.fs.Path(s"$sdir/idx/sigs/shard=$g")), s"sigs/$g"))
    Dedup.appendToSimhashIndex(
      Dedup.simhash(Seq((50L, base)).toDF("doc_id", "text")),
      s"$sdir/idx", tag = "b3")
    assert(sMeta() == ((5, 4, "b3")), sMeta().toString)
    val sGot = Dedup.simhashDelta(
        Dedup.simhash(Seq((60L, base)).toDF("doc_id", "text")), s"$sdir/idx")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sGot.contains((1L, 60L)) && sGot.contains((50L, 60L)),
      s"post-compact simhash delta must see merged AND new shards: $sGot")
    Dedup.compactSimhashIndex(spark, s"$sdir/idx")
    assert(sMeta() == ((7, 7, "b3")), sMeta().toString)
    Dedup.compactSimhashIndex(spark, s"$sdir/idx")
    assert(sMeta() == ((7, 7, "b3")), "single-live-shard compact must no-op")
  }

  test("index maintenance CAS: an interleaved compact/append pair ends " +
      "with ONE winner committed and the loser raising - never a " +
      "silently clobbered shard (r16)") {
    import graft.ops.{IvfIndex, IvfPq}
    def vecA(i: Int) = Array.tabulate(8)(d =>
      (if (d == 0) 1.0f else 0.02f * ((i + d) % 5)))
    def vecB(i: Int) = Array.tabulate(8)(d =>
      (if (d == 1) 1.0f else 0.02f * ((i + d) % 5)))
    def vecC(i: Int) = Array.tabulate(8)(d =>
      (if (d == 2) 1.0f else 0.02f * ((i + d) % 7)))
    val a = (0 until 24).map(i => (i.toLong, vecA(i))).toDF("id", "vec")
    val b = (100 until 112).map(i => (i.toLong, vecB(i))).toDF("id", "vec")
    val c = (200 until 206).map(i => (i.toLong, vecC(i))).toDF("id", "vec")
    // the test seam orders the interleaving deterministically: the
    // FIRST writer plans, writes its data dirs, and just before its
    // CAS re-read the hook runs the competing writer to full commit
    def onceCas(f: => Unit): Unit =
      IvfIndex.beforeCasCommit = () => {
        IvfIndex.beforeCasCommit = () => (); f
      }
    def meta(path: String) = {
      val m = spark.read.parquet(s"$path/meta").head()
      (m.getInt(m.fieldIndex("shards")), m.getInt(m.fieldIndex("base")),
        m.getString(m.fieldIndex("tag")))
    }
    try {
      // --- compact loses to a racing append ---
      val p1 = tmpDir("cas-compact-loses")
      IvfPq.build(a, nCells = 2, m = 4, ks = 8, pqIters = 1,
        persist = false).save(p1)
      IvfPq.append(b, p1, tag = "day-1")
      val qb = Seq((-2L, vecB(100))).toDF("qid", "qvec")
      onceCas { IvfPq.append(c, p1, tag = "racer") }
      val ex = intercept[java.util.ConcurrentModificationException] {
        IvfPq.compact(spark, p1)
      }
      assert(ex.getMessage.contains("lost the commit race"), ex.getMessage)
      // the append (winner) is committed; the compact left only an
      // invisible orphan above the frontier
      assert(meta(p1) == ((2, 0, "racer")), meta(p1).toString)
      val idx = IvfPq.load(spark, p1, persist = false)
      val hits = idx.query(Seq((-3L, vecC(200))).toDF("qid", "qvec"), 3,
          nProbe = 2, fetch = 10).collect().map(r => r.getLong(2)).toSet
      assert(hits.contains(200L), s"winner's rows must be queryable: $hits")
      val standing = idx.query(qb, 3, nProbe = 2, fetch = 10).collect()
        .map(r => r.getLong(2)).toSet
      assert(standing.contains(100L), "standing rows must survive the race")
      // a retried compact now merges everything incl. the winner and
      // sweeps the aborted merge's orphan
      IvfPq.compact(spark, p1)
      assert(meta(p1) == ((4, 4, "racer")), meta(p1).toString)
      val fs = new org.apache.hadoop.fs.Path(p1)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      (0 to 3).foreach(g => assert(!fs.exists(
        new org.apache.hadoop.fs.Path(s"$p1/encoded/shard=$g")), s"g=$g"))
      val hits2 = IvfPq.load(spark, p1, persist = false)
        .query(Seq((-3L, vecC(200))).toDF("qid", "qvec"), 3,
          nProbe = 2, fetch = 10).collect().map(r => r.getLong(2)).toSet
      assert(hits2.contains(200L), "merged index keeps every committed row")

      // --- append loses to a racing compact ---
      val p2 = tmpDir("cas-append-loses")
      IvfPq.build(a, nCells = 2, m = 4, ks = 8, pqIters = 1,
        persist = false).save(p2)
      IvfPq.append(b, p2, tag = "day-1")
      onceCas { IvfPq.compact(spark, p2) }
      val ex2 = intercept[java.util.ConcurrentModificationException] {
        IvfPq.append(c, p2, tag = "day-2")
      }
      assert(ex2.getMessage.contains("lost the commit race"), ex2.getMessage)
      assert(meta(p2) == ((3, 3, "day-1")),
        s"compact (winner) must stand: ${meta(p2)}")
      // the loser's caller retries against the new frontier and wins
      IvfPq.append(c, p2, tag = "day-2")
      assert(meta(p2) == ((4, 3, "day-2")), meta(p2).toString)
      val hits3 = IvfPq.load(spark, p2, persist = false)
        .query(Seq((-3L, vecC(200))).toDF("qid", "qvec"), 3,
          nProbe = 2, fetch = 10).collect().map(r => r.getLong(2)).toSet
      assert(hits3.contains(200L), "retried append must land")
    } finally IvfIndex.beforeCasCommit = () => ()
  }

  test("IvfIndex.maintain: in-distribution append+compact path stays " +
      "silent; a shifted distribution triggers the rebuild flag and " +
      "blocks the merge (r16)") {
    import graft.ops.{IvfIndex, IvfSq}
    def vecA(i: Int) = Array.tabulate(8)(d =>
      (if (d == 0) 1.0f else 0.02f * ((i + d) % 5)))
    def vecB(i: Int) = Array.tabulate(8)(d =>
      (if (d == 1) 1.0f else 0.02f * ((i + d) % 5)))
    // SHIFTED distribution: mass on axes the build corpus never used,
    // far from every frozen centroid
    def vecS(i: Int) = Array.tabulate(8)(d =>
      (if (d == 4 + (i % 2)) 1.0f else 0.01f * ((i + d) % 3)))
    val build = ((0 until 12).map(i => (i.toLong, vecA(i))) ++
      (50 until 62).map(i => (i.toLong, vecB(i)))).toDF("id", "vec")

    // --- in-distribution: drift ~1.0, too many live shards -> compact
    val p1 = tmpDir("maintain-quiet")
    IvfIndex.build(build, nCells = 2, refineIters = 1,
      persist = false).save(p1)
    IvfIndex.append((100 until 106).map(i => (i.toLong, vecA(i)))
      .toDF("id", "vec"), p1, tag = "d1")
    IvfIndex.append((200 until 206).map(i => (i.toLong, vecB(i)))
      .toDF("id", "vec"), p1, tag = "d2")
    val r1 = IvfIndex.maintain(spark, p1, maxLiveShards = 2)
    // liveShards reports the POST-pass count (ADVICE r16): 3 live
    // shards triggered the merge, 1 lives after it
    assert(r1.liveShards == 1 && r1.compacted && !r1.rebuildFlagged,
      r1.toString)
    assert(r1.maxDriftRatio < 1.5, s"in-distribution drift: $r1")
    val m1 = spark.read.parquet(s"$p1/meta").head()
    assert(m1.getInt(m1.fieldIndex("shards")) ==
      m1.getInt(m1.fieldIndex("base")), "maintain must have merged")
    // second pass: one live shard, nothing to do, still silent
    val r2 = IvfIndex.maintain(spark, p1, maxLiveShards = 2)
    assert(r2.liveShards == 1 && !r2.compacted && !r2.rebuildFlagged,
      r2.toString)
    // the optional recall probe populates the report when asked
    val r3 = IvfIndex.maintain(spark, p1, maxLiveShards = 2,
      recallFloor = 0.01, k = 3)
    assert(r3.minProbeRecall >= 0.0 && r3.minProbeRecall <= 1.0, r3.toString)

    // --- shifted distribution: rebuild flagged, merge BLOCKED (a
    // compact would fold the drifted rows into the base population and
    // self-normalize the evidence away)
    val p2 = tmpDir("maintain-drift")
    IvfIndex.build(build, nCells = 2, refineIters = 1,
      persist = false).save(p2)
    IvfIndex.append((300 until 312).map(i => (i.toLong, vecS(i)))
      .toDF("id", "vec"), p2, tag = "d1")
    val r4 = IvfIndex.maintain(spark, p2, maxLiveShards = 1)
    assert(r4.rebuildFlagged && !r4.compacted, r4.toString)
    assert(r4.maxDriftRatio > 1.5, r4.toString)
    val m2 = spark.read.parquet(s"$p2/meta").head()
    assert(m2.getInt(m2.fieldIndex("shards")) == 1 &&
      m2.getInt(m2.fieldIndex("base")) == 0,
      "a flagged pass must leave the layout untouched")

    // --- the PQ/SQ families share the policy (one shifted check)
    val p3 = tmpDir("maintain-sq")
    IvfSq.build(build, nCells = 2, refineIters = 1,
      persist = false).save(p3)
    IvfSq.append((300 until 312).map(i => (i.toLong, vecS(i)))
      .toDF("id", "vec"), p3, tag = "d1")
    val r5 = IvfSq.maintain(spark, p3, maxLiveShards = 1)
    assert(r5.rebuildFlagged && !r5.compacted && r5.maxDriftRatio > 1.5,
      r5.toString)
  }

  test("BM25 incremental index: appends reproduce the batch rebuild " +
      "EXACTLY (no stale idf), tag retry no-op, checkIds loud, compact " +
      "preserves scores, CAS-guarded, legacy layout loud (r16)") {
    import graft.ops.{IvfIndex, Relevance}
    def doc(i: Int, extra: String) =
      s"spark $extra pipeline with shuffle and sort keys " +
        ("filler words pad the document length " * (1 + i % 3))
    val a = (0 until 8).map(i => (i.toLong,
      doc(i, if (i % 2 == 0) "join hash" else "join"))).toDF("doc_id", "text")
    val b = (100 until 104).map(i => (i.toLong,
      doc(i, if (i % 2 == 0) "dup hash" else "dup join"))).toDF("doc_id", "text")
    val terms = Seq("join", "hash", "dup")
    val path = tmpDir("bm25-delta")
    Relevance.buildIndex(a, "doc_id", "text", path)
    Relevance.appendToIndex(b, "doc_id", "text", path, tag = "day-1")
    def scores() = Relevance.queryIndex(spark, path, terms)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // EXACT equality with the direct batch scan over the union: N,
    // avgdl, and every df are global, so no stale-idf drift exists
    val direct = Relevance.bm25(a.union(b), "doc_id", "text", terms)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(scores() == direct,
      s"appended index must equal the batch rebuild:\n${scores()}\n$direct")
    def meta() = { val m = spark.read.parquet(s"$path/stats").head()
      (m.getLong(m.fieldIndex("n")), m.getInt(m.fieldIndex("shards")),
        m.getInt(m.fieldIndex("base")), m.getString(m.fieldIndex("tag"))) }
    assert(meta() == ((12L, 1, 0, "day-1")), meta().toString)
    // same-tag retry is a no-op
    Relevance.appendToIndex(b, "doc_id", "text", path, tag = "day-1")
    assert(meta() == ((12L, 1, 0, "day-1")), "retry must no-op")
    // a re-added id fails loudly under checkIds (it would double-count
    // df and tf in every future query)
    val ex = intercept[IllegalArgumentException] {
      Relevance.appendToIndex(b, "doc_id", "text", path, tag = "day-2",
        checkIds = true)
    }
    assert(ex.getMessage.contains("already contains delta doc_id"),
      ex.getMessage)
    // compaction: scores identical, stats preserved, repeat no-op
    Relevance.compactIndex(spark, path)
    assert(meta() == ((12L, 3, 3, "day-1")), meta().toString)
    assert(scores() == direct, "compaction must not move scores")
    Relevance.compactIndex(spark, path)
    assert(meta() == ((12L, 3, 3, "day-1")), "single-shard compact no-ops")
    // the live-shard scan is partition-pruned: garbage below base is
    // never read
    spark.read.parquet(s"$path/postings/shard=3").write
      .parquet(s"$path/postings/shard=1")
    assert(scores() == direct, "garbage below base must be pruned")
    // CAS: a compact racing a committed append loses loudly
    val c = (200 until 202).map(i => (i.toLong, doc(i, "join")))
      .toDF("doc_id", "text")
    val d = (300 until 302).map(i => (i.toLong, doc(i, "hash")))
      .toDF("doc_id", "text")
    Relevance.appendToIndex(c, "doc_id", "text", path, tag = "day-3")
    def onceCas(f: => Unit): Unit =
      IvfIndex.beforeCasCommit = () => {
        IvfIndex.beforeCasCommit = () => (); f
      }
    try {
      onceCas { Relevance.appendToIndex(d, "doc_id", "text", path,
        tag = "racer") }
      val ex2 = intercept[java.util.ConcurrentModificationException] {
        Relevance.compactIndex(spark, path)
      }
      assert(ex2.getMessage.contains("lost the commit race"), ex2.getMessage)
      assert(meta() == ((16L, 5, 3, "racer")),
        s"racing append (winner) must stand: ${meta()}")
      // retried compact merges everything; the appended docs score
      Relevance.compactIndex(spark, path)
      assert(meta() == ((16L, 7, 7, "racer")), meta().toString)
      val finalScores = Relevance.queryIndex(spark, path, terms)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val finalDirect = Relevance.bm25(a.union(b).union(c).union(d),
          "doc_id", "text", terms)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(finalScores == finalDirect,
        "post-race index must still equal the batch rebuild")
    } finally IvfIndex.beforeCasCommit = () => ()
    // a pre-r16 layout (unsharded postings, two-column stats) reads as
    // incomplete-with-a-name, never complete-but-wrong
    val legacy = tmpDir("bm25-legacy")
    a.limit(2).write.parquet(s"$legacy/postings")
    Seq((2L, 40L)).toDF("n", "tot").write.parquet(s"$legacy/stats")
    val ex3 = intercept[IllegalArgumentException] {
      Relevance.queryIndex(spark, legacy, terms)
    }
    assert(ex3.getMessage.contains("predates the sharded-postings layout"),
      ex3.getMessage)
  }

  test("driver-dict trainer cap sensitivity: on a Zipf corpus, halving " +
      "or doubling maxWords leaves BPE merges and WordPiece vocab " +
      "unchanged (the R13b tail argument, now a pinned property) (r16)") {
    import graft.ops.{Bpe, WordPiece}
    // Zipf fixture: 960 word types over a shared syllable alphabet
    // (types must SHARE character pairs, or the cap trivially cannot
    // matter); frequency of rank r is ~N/r, so the head carries the
    // pair mass and the tail the type count — the regime the 50k
    // production cap banks on. The syllable structure creates many
    // near-tie pair scores, making this ADVERSARIAL for the cap: real
    // corpora have larger gaps.
    val syll = Vector("ba", "be", "bi", "bo", "ku", "ra", "ti", "zo")
    def word(i: Int): String =
      syll(i % 8) + syll((i / 8) % 8) + (if (i % 3 == 0) syll((i / 64) % 8) else "")
    val corpus = (0 until 960).map { r =>
      (r.toLong, (word(r) + " ") * math.max(1, 2880 / (r + 1)))
    }.toDF("id", "text")
    // MEASURED boundary (r16, recorded in NOTES): BPE (raw pair
    // counts) is stable from cap 240 = V/4 up; WordPiece (likelihood
    // score — unit counts in the DENOMINATOR feel every dropped tail
    // type) needs 480 = V/2, one octave more. Both halve/double
    // invariances hold well below the production 50k cap's margin.
    val capsB = Seq(240, 480, 960).map(c =>
      Bpe.train(corpus, nMerges = 12, maxWords = c))
    assert(capsB.distinct.size == 1,
      s"BPE merges must be cap-insensitive from V/4 up:\n${capsB.map(_.take(5))}")
    assert(Bpe.train(corpus, nMerges = 12, maxWords = 120) != capsB.head,
      "fixture must be adversarial enough that a too-small cap shows")
    val capsW = Seq(480, 960).map(c =>
      WordPiece.train(corpus, vocabSize = 40, maxWords = c).pieces)
    assert(capsW.distinct.size == 1,
      s"WordPiece vocab must be cap-insensitive from V/2 up:\n${capsW.map(_.take(8))}")
    assert(WordPiece.train(corpus, vocabSize = 40, maxWords = 240).pieces
      != capsW.head,
      "the WordPiece boundary sits an octave above BPE's - pinned so " +
        "a sensitivity change is a conscious one")
  }

  test("index completeness honors _SUCCESS when markers are on, " +
    "part-files only when markers are off (ADVICE r11)") {
    import graft.ops.IvfIndex
    val corpus = (0 until 40).map(i =>
      (i.toLong, Array.tabulate(8)(d => math.cos(i * 0.3 + d).toFloat)))
      .toDF("id", "vec")
    val idx = IvfIndex.build(corpus, nCells = 4, refineIters = 1,
      persist = false)
    val path = tmpDir("ivf-torn")
    idx.save(path)
    assert(IvfIndex.exists(spark, path))
    // simulate a torn commit: part-files landed (committer v2 moves
    // them in before job commit) but the job never finished — no
    // _SUCCESS. With markers enabled this must grade INCOMPLETE.
    val conf = spark.sparkContext.hadoopConfiguration
    val meta = new org.apache.hadoop.fs.Path(s"$path/meta/_SUCCESS")
    meta.getFileSystem(conf).delete(meta, false)
    assert(!IvfIndex.exists(spark, path),
      "markers on: part-files without _SUCCESS can be a torn v2 commit")
    // markers disabled: part-file presence is the best signal there is
    val key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    conf.setBoolean(key, false)
    try assert(IvfIndex.exists(spark, path),
      "markers off: committed part-files grade complete")
    finally conf.unset(key)
  }

  test("IvfPq query accepts widening integral qid vs id, rejects " +
    "incomparable types (ADVICE r11)") {
    import graft.ops.IvfPq
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val idx = IvfPq.build(emb, nCells = 4, m = 8, ks = 16, pqIters = 1,
      persist = false)
    val qLong = emb.filter(col("id") < 3)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val longRes = idx.query(qLong, 5, nProbe = 2, fetch = 10)
      .collect().map(_.toSeq.drop(1)).toSet // drop qid: int vs long rows
    // int qid against the long corpus id: Spark widens both the
    // self-exclusion =!= and the shortlist join losslessly
    val qInt = qLong.select(col("qid").cast("int").as("qid"), col("qvec"))
    val intRes = idx.query(qInt, 5, nProbe = 2, fetch = 10)
      .collect().map(_.toSeq.drop(1)).toSet
    assert(intRes == longRes && longRes.nonEmpty,
      "an int qid must query identically to the long qid it widens to")
    // a truly incomparable pairing still fails loudly at analysis time
    val ex = intercept[IllegalArgumentException] {
      idx.query(qLong.select(col("qid").cast("string").as("qid"),
        col("qvec")), 5, nProbe = 2)
    }
    assert(ex.getMessage.contains("not comparable"), ex.getMessage)
  }

  test("bm25: hand-computed scores, deterministic ranking, top-k plan") {
    import graft.ops.Relevance
    val docs = Seq(
      (1L, "join join hash"), // dl=3, tf(join)=2, tf(hash)=1
      (2L, "join scan"), // dl=2, tf(join)=1
      (3L, "scan filter merge") // no query terms -> unranked
    ).toDF("doc_id", "text")
    val got = Relevance.bm25(docs, "doc_id", "text", Seq("join", "hash"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // N=3, tot=8, avgdl=8/3; df(join)=2, df(hash)=1 — mirror the exact
    // float expression (fixed parenthesization) and the HALF_UP render
    val avgdl = 8.0 / 3
    def idf(df: Long) = math.log(1.0 + (3L - df + 0.5) / (df + 0.5))
    def tfn(tf: Long, dl: Long) =
      (tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
    def r4(x: Double) = new java.math.BigDecimal(java.lang.Double.toString(x))
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    val s1 = r4(idf(2) * tfn(2, 3) + idf(1) * tfn(1, 3))
    val s2 = r4(idf(2) * tfn(1, 2) + 0.0)
    assert(got.toSeq == Seq((1L, s1), (2L, s2)), s"got ${got.toSeq}, want " +
      s"Seq((1,$s1), (2,$s2))")
    // top-k plans as TakeOrderedAndProject, never a global sort (the
    // lazy plan form; the public bm25 localizes it away)
    val plan = Relevance.bm25Plan(docs, "doc_id", "text", Seq("join"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"no top-k plan:\n$plan")
    // the public result is a LocalRelation (ADVICE r12): a second call
    // may evict the shared persist slots, so the first result must not
    // still read them — interleave two calls and consume the FIRST last
    val first = Relevance.bm25(docs, "doc_id", "text", Seq("join", "hash"))
    val firstLeaves = first.queryExecution.optimizedPlan.collectLeaves()
    assert(firstLeaves.forall(_.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
      s"bm25 result must be localized, got leaves: $firstLeaves")
    val other = Relevance.bm25(
      Seq((9L, "hash only doc")).toDF("doc_id", "text"), "doc_id", "text",
      Seq("hash"))
    assert(other.collect().map(_.getLong(0)).toSeq == Seq(9L))
    assert(first.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      == got.toSeq, "first result must survive the second call unchanged")
    // loud guards: non-tokenizable and duplicate terms can never match
    intercept[IllegalArgumentException] {
      Relevance.bm25(docs, "doc_id", "text", Seq("Join"))
    }
    intercept[IllegalArgumentException] {
      Relevance.bm25(docs, "doc_id", "text", Seq("join", "join"))
    }
    ()
  }

  test("bm25 index: term filter pushes to the postings scan, scores equal " +
      "the direct path, stats table is the commit marker") {
    import graft.ops.Relevance
    val docs = Seq(
      (1L, "join join hash"), (2L, "join scan"), (3L, "scan filter merge"),
      (4L, "hash hash dup join")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25idx").toString
    Relevance.buildIndex(docs, "doc_id", "text", s"$dir/idx")
    val direct = Relevance.bm25(docs, "doc_id", "text", Seq("join", "hash"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaIndex = Relevance.queryIndex(spark, s"$dir/idx",
      Seq("join", "hash")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaIndex == direct, s"index $viaIndex vs direct $direct")
    // the term filter must reach the parquet scan (row-group pruning is
    // the whole 100TB story): PushedFilters carries In(word, ...)
    val raw = spark.read.parquet(s"$dir/idx/postings")
      .filter(col("word").isin("join", "hash"))
    val plan = raw.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(word"),
      s"term filter must push to the scan:\n$plan")
    // stats written LAST: a build that died before it must not read as
    // a complete index
    assert(new java.io.File(s"$dir/idx/stats").exists())
    // ...and a query against a stats-less path names the failure
    val ex = intercept[IllegalArgumentException] {
      Relevance.queryIndex(spark, s"$dir/nothere", Seq("join"))
    }
    assert(ex.getMessage.contains("missing or incomplete"), ex.getMessage)
    // REBUILD crash-safety (r15, the buildLshIndex rule): a rebuild
    // whose postings write dies must read as incomplete — not as the
    // OLD stats standing over partial postings
    val boom = org.apache.spark.sql.functions.udf((s: String) =>
      { throw new RuntimeException("boom"); s })
    intercept[Exception] {
      Relevance.buildIndex(docs.withColumn("text", boom(col("text"))),
        "doc_id", "text", s"$dir/idx")
    }
    val ex2 = intercept[IllegalArgumentException] {
      Relevance.queryIndex(spark, s"$dir/idx", Seq("join"))
    }
    assert(ex2.getMessage.contains("missing or incomplete"), ex2.getMessage)
  }

  test("bigram perplexity: hand-computed nll, OOV smoothing, broadcast plan") {
    import graft.ops.LangModel
    // reference "a b a b c": bigrams (a,b)x2 (b,a)x1 (b,c)x1; contexts
    // a->2 b->2; vocab {a,b,c} -> V = 4
    val ref = Seq((0L, "a b a b c")).toDF("doc_id", "text")
    val (bg, cx, v) = LangModel.trainBigram(ref)
    assert(v == 4L)
    val scored = LangModel.scoreNll(
      Seq((1L, "a b"), (2L, "a x")).toDF("doc_id", "text"), bg, cx, v)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // doc 1: P(b|a) = (2+1)/(2+4) -> nll = ln 2
    assert(scored(1L)._1 == 1L)
    assert(math.abs(scored(1L)._2 - math.log(2.0)) < 1e-12)
    // doc 2: OOV pair (a,x): P = (0+1)/(2+4) -> nll = ln 6 (finite)
    assert(math.abs(scored(2L)._2 - math.log(6.0)) < 1e-12)
    // a single-word doc has no bigrams and must drop, not NaN
    assert(LangModel.scoreNll(
      Seq((3L, "solo")).toDF("doc_id", "text"), bg, cx, v).count() == 0)
    // the model attaches via broadcast joins: the scored corpus must
    // not shuffle for them
    val plan = LangModel.scoreNll(
      Seq((1L, "a b")).toDF("doc_id", "text"), bg, cx, v)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$plan")
  }

  test("perplexityBuckets: equal thirds per group, score-ordered, " +
      "deterministic tie-break (d42)") {
    import graft.ops.LangModel
    // en: 7 docs (ntile sizes 3/2/2 — earlier buckets take the
    // remainder), de: 3 docs (1/1/1); two en docs tie at score 2.0
    val scored = Seq(
      (1L, "en", 5.0), (2L, "en", 1.0), (3L, "en", 3.0), (4L, "en", 2.0),
      (5L, "en", 2.0), (6L, "en", 7.0), (7L, "en", 4.0),
      (10L, "de", 9.0), (11L, "de", 8.0), (12L, "de", 7.5))
      .toDF("id", "lang", "ppl")
    val got = LangModel.perplexityBuckets(scored, "lang", "ppl")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    // en ascending by (ppl, id): 2(1.0) 4(2.0) 5(2.0) | 3(3.0) 7(4.0) |
    // 1(5.0) 6(7.0)
    assert(got(2L) == "head" && got(4L) == "head" && got(5L) == "head")
    assert(got(3L) == "middle" && got(7L) == "middle")
    assert(got(1L) == "tail" && got(6L) == "tail")
    // de: one per bucket, lowest score = head
    assert(got(12L) == "head" && got(11L) == "middle" && got(10L) == "tail")
    // head scores never exceed middle, middle never exceed tail (per group)
    val rows = LangModel.perplexityBuckets(scored, "lang", "ppl")
      .collect().map(r => (r.getString(1), r.getString(3), r.getDouble(2)))
    for (lang <- Seq("en", "de")) {
      def mx(b: String) = rows.collect { case (`lang`, `b`, s) => s }.max
      def mn(b: String) = rows.collect { case (`lang`, `b`, s) => s }.min
      assert(mx("head") <= mn("middle") && mx("middle") <= mn("tail"))
    }
  }

  test("interpolated trigram: hand-computed nll, OOV floor, broadcast plan") {
    import graft.ops.LangModel
    // reference "a b a b c": unigrams a:2 b:2 c:1 (N=5, V=4);
    // bigrams (a,b):2 (b,a):1 (b,c):1, contexts a:2 b:2;
    // trigrams (a,b,a):1 (b,a,b):1 (a,b,c):1, contexts (a,b):2 (b,a):1
    val m = LangModel.trainTrigram(Seq((0L, "a b a b c")).toDF("doc_id", "text"))
    assert(m.nTokens == 5L && m.v == 4L)
    val scored = LangModel.scoreNllTrigram(
      Seq((1L, "a b a"), (2L, "x y z")).toDF("doc_id", "text"), m)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // doc 1, one triple (a,b,a):
    //   P = 5/10·c(aba)/c(ab·) + 3/10·c(ba)/c(b·) + 2/10·(c(a)+1)/(N+V)
    //     = 1/2·1/2 + 3/10·1/2 + 1/5·3/9 = 7/15
    //   integer form: num = 5·1·2·9 + 3·1·2·9 + 2·3·2·2 = 168,
    //                 den = 10·2·2·9 = 360; 168/360 = 7/15
    assert(scored(1L)._1 == 1L)
    assert(math.abs(scored(1L)._2 - math.log(15.0 / 7.0)) < 1e-12)
    // doc 2 is all-OOV: trigram and bigram terms drop (prefix unseen),
    // the add-one unigram floor scores it finitely:
    //   P = 2/10·(0+1)/9 = 1/45
    assert(math.abs(scored(2L)._2 - math.log(45.0)) < 1e-12)
    // a 2-word doc has no trigram positions and must drop, not NaN
    assert(LangModel.scoreNllTrigram(
      Seq((3L, "a b")).toDF("doc_id", "text"), m).count() == 0)
    // all five model joins must be broadcast — the corpus never
    // shuffles to meet the model
    val plan = LangModel.scoreNllTrigram(
      Seq((1L, "a b a")).toDF("doc_id", "text"), m)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"model joins must not shuffle the corpus:\n$plan")
  }

  test("layout epoch (r17): the ABA window is closed for LSH, SimHash, " +
      "and BM25 index metas - an append planned before a completed " +
      "rebuild fails naming epochs, the retry lands") {
    import graft.ops.{IvfIndex, Relevance}
    def onceCas(f: => Unit): Unit =
      IvfIndex.beforeCasCommit = () => {
        IvfIndex.beforeCasCommit = () => (); f
      }
    val corpus = Seq((1L, base),
      (2L, "completely different content about spark engines and shuffles"))
      .toDF("doc_id", "text")
    // exact-duplicate delta: every family pairs it deterministically
    // (disjoint IDS are the contract, not distinct texts)
    val delta = Seq((20L, base)).toDF("doc_id", "text")

    // --- LSH: a completed rebuild re-enters (shards=0, tag="") - the
    // exact state the append's planning read saw; only the minted
    // epoch tells the generations apart
    val lsh = tmpDir("lsh-aba")
    try {
      Dedup.buildLshIndex(corpus, "doc_id", "text", s"$lsh/idx")
      def epoch() = { val m = spark.read.parquet(s"$lsh/idx/meta").head()
        m.getLong(m.fieldIndex("epoch")) }
      val e0 = epoch()
      assert(e0 != 0L, "a build must mint a nonzero layout epoch")
      onceCas { Dedup.buildLshIndex(corpus, "doc_id", "text", s"$lsh/idx") }
      val ex = intercept[java.util.ConcurrentModificationException] {
        Dedup.appendToLshIndex(delta, "doc_id", "text", s"$lsh/idx",
          tag = "d1")
      }
      assert(ex.getMessage.contains("epoch"), ex.getMessage)
      assert(epoch() != e0, "the rebuild must have minted a new epoch")
      // the retry plans against the rebuilt generation and lands
      Dedup.appendToLshIndex(delta, "doc_id", "text", s"$lsh/idx",
        tag = "d1")
      val m = spark.read.parquet(s"$lsh/idx/meta").head()
      assert(m.getInt(m.fieldIndex("shards")) == 1 &&
        m.getString(m.fieldIndex("tag")) == "d1", "retry must land")
      val got = Dedup.dedupDelta(Seq((40L, base)).toDF("doc_id", "text"),
          "doc_id", "text", s"$lsh/idx")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.contains((1L, 40L)) && got.contains((20L, 40L)),
        s"post-ABA index must pair against build AND retried shard: $got")
    } finally IvfIndex.beforeCasCommit = () => ()

    // --- SimHash twin
    val sim = tmpDir("simhash-aba")
    try {
      Dedup.buildSimhashIndex(Dedup.simhash(corpus), s"$sim/idx")
      def epoch() = { val m = spark.read.parquet(s"$sim/idx/meta").head()
        m.getLong(m.fieldIndex("epoch")) }
      val e0 = epoch()
      assert(e0 != 0L)
      onceCas { Dedup.buildSimhashIndex(Dedup.simhash(corpus), s"$sim/idx") }
      val ex = intercept[java.util.ConcurrentModificationException] {
        Dedup.appendToSimhashIndex(Dedup.simhash(delta), s"$sim/idx",
          tag = "d1")
      }
      assert(ex.getMessage.contains("epoch"), ex.getMessage)
      assert(epoch() != e0)
      Dedup.appendToSimhashIndex(Dedup.simhash(delta), s"$sim/idx",
        tag = "d1")
      val m = spark.read.parquet(s"$sim/idx/meta").head()
      assert(m.getInt(m.fieldIndex("shards")) == 1 &&
        m.getString(m.fieldIndex("tag")) == "d1", "retry must land")
      val got = Dedup.simhashDelta(
          Dedup.simhash(Seq((40L, base)).toDF("doc_id", "text")),
          s"$sim/idx")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.contains((1L, 40L)) && got.contains((20L, 40L)), got.toString)
    } finally IvfIndex.beforeCasCommit = () => ()

    // --- BM25: without the epoch the stale append would commit its
    // planning read's corpus totals n/tot over the fresh build
    val bm = tmpDir("bm25-aba")
    try {
      val path = s"$bm/idx"
      assert(!Relevance.exists(spark, path),
        "exists() must read a missing index as absent (ADVICE r16)")
      Relevance.buildIndex(corpus, "doc_id", "text", path)
      assert(Relevance.exists(spark, path))
      def epoch() = { val m = spark.read.parquet(s"$path/stats").head()
        m.getLong(m.fieldIndex("epoch")) }
      val e0 = epoch()
      assert(e0 != 0L)
      onceCas { Relevance.buildIndex(corpus, "doc_id", "text", path) }
      val ex = intercept[java.util.ConcurrentModificationException] {
        Relevance.appendToIndex(delta, "doc_id", "text", path, tag = "d1")
      }
      assert(ex.getMessage.contains("epoch"), ex.getMessage)
      assert(epoch() != e0)
      Relevance.appendToIndex(delta, "doc_id", "text", path, tag = "d1")
      val terms = Seq("quick", "fox")
      val got = Relevance.queryIndex(spark, path, terms)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val direct = Relevance.bm25(corpus.union(delta), "doc_id", "text",
          terms)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == direct,
        s"post-ABA appended index must equal the batch answer:\n$got\n$direct")
      // exists() reads a pre-sharded legacy layout as absent instead
      // of the loud readBm25Meta require (the IVF-family pattern)
      val legacy = tmpDir("bm25-exists-legacy")
      corpus.limit(1).write.parquet(s"$legacy/postings")
      Seq((1L, 10L)).toDF("n", "tot").write.parquet(s"$legacy/stats")
      assert(!Relevance.exists(spark, legacy))
    } finally IvfIndex.beforeCasCommit = () => ()
  }

  test("compact-vs-compact (r17, F5): the loser's staged merge never " +
      "rewrites the winner's live tables - reader succeeds at every " +
      "seam, loser aborts loudly, no staging garbage survives") {
    import graft.ops.IvfIndex
    val corpusRows = Seq((1L, base), (3L, base.replace("jumps", "leaps")),
      (4L, "completely different content about spark engines and shuffles"))
    val dir = tmpDir("lsh-ccrace")
    Dedup.buildLshIndex(corpusRows.toDF("doc_id", "text"), "doc_id", "text",
      s"$dir/idx")
    Dedup.appendToLshIndex(Seq((20L, base)).toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/idx", tag = "b1")
    Dedup.appendToLshIndex(
      Seq((21L, base + " extra tail words here")).toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/idx", tag = "b2")
    val probe = Seq((40L, base), (41L, base + " extra tail words here"))
      .toDF("doc_id", "text")
    def pairs() = Dedup.dedupDelta(probe, "doc_id", "text", s"$dir/idx")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def meta() = { val m = spark.read.parquet(s"$dir/idx/meta").head()
      (m.getInt(m.fieldIndex("shards")), m.getInt(m.fieldIndex("base")),
        m.getString(m.fieldIndex("tag"))) }
    val before = pairs()
    assert(before.exists(_._2 == 40L) && meta() == ((2, 0, "b2")))
    // the loser stages + renames its merge, then at its CAS seam the
    // winner runs to completion (healing the loser's uncommitted
    // orphan dest via the rename protocol, never touching live dirs)
    var seamBefore: Set[(Long, Long)] = null
    var seamAfter: Set[(Long, Long)] = null
    try {
      IvfIndex.beforeCasCommit = () => {
        IvfIndex.beforeCasCommit = () => ()
        seamBefore = pairs() // loser renamed, nothing committed yet
        Dedup.compactLshIndex(spark, s"$dir/idx") // the winner
        seamAfter = pairs()
      }
      val ex = intercept[java.util.ConcurrentModificationException] {
        Dedup.compactLshIndex(spark, s"$dir/idx") // the loser
      }
      assert(ex.getMessage.contains("lost the commit race"), ex.getMessage)
    } finally IvfIndex.beforeCasCommit = () => ()
    assert(seamBefore == before,
      s"reader at the pre-winner seam must see the committed frontier")
    assert(seamAfter == before,
      s"reader right after the winner's commit must see identical pairs")
    assert(pairs() == before, "reader after the loser's abort")
    assert(meta() == ((4, 4, "b2")), s"winner's commit stands: ${meta()}")
    // no staging garbage: every .compact-tmp dir was renamed or healed
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("sets", "bands").foreach { t =>
      val leftovers = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$dir/idx/$t"))
        .map(_.getPath.getName).filter(_.startsWith(".compact-tmp"))
      assert(leftovers.isEmpty, s"$t staging leftovers: ${leftovers.toSeq}")
    }
    // a CRASHED compact's orphan dest (uncommitted, invisible to
    // readers) heals on the next compact: rename fails, the meta
    // re-read proves no winner, the orphan is reclaimed and the
    // retry rename lands
    Dedup.appendToLshIndex(Seq((50L, base)).toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/idx", tag = "b3")
    assert(meta() == ((5, 4, "b3")))
    // fake the crash leftover exactly where the next merge lands (a
    // real crashed compact's orphan preserves each table's layout -
    // it was staged with it and renamed whole)
    spark.read.parquet(s"$dir/idx/sets/shard=4").write
      .partitionBy("bucket").parquet(s"$dir/idx/sets/shard=7")
    spark.read.parquet(s"$dir/idx/bands/shard=4").write
      .parquet(s"$dir/idx/bands/shard=7")
    Dedup.compactLshIndex(spark, s"$dir/idx")
    assert(meta() == ((7, 7, "b3")), meta().toString)
    val got = Dedup.dedupDelta(Seq((60L, base)).toDF("doc_id", "text"),
        "doc_id", "text", s"$dir/idx")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 60L)) && got.contains((50L, 60L)),
      s"healed merge must carry every live row: $got")
  }

  test("ShardDirs.sweepBelow (r17, F6): ONE listing reclaims " +
      "below-base shards and crashed staging dirs - cost is " +
      "O(live entries), not O(total shards ever)") {
    import graft.ops.ShardDirs
    val dir = tmpDir("sharddirs-sweep") + "/table"
    def mk(name: String): Unit = {
      val d = new java.io.File(dir, name); d.mkdirs()
      new java.io.File(d, "part-0.parquet").createNewFile(); ()
    }
    Seq("shard=0", "shard=3", "shard=11", "shard=weird",
      ".compact-tmp-dead1", ".compact-tmp-dead2",
      ".compact-tmp-live").foreach(mk)
    // age-gate (ADVICE r17): a FRESH .compact-tmp is a concurrent
    // compact's live staging and must survive the sweep; only one
    // older than the reclaim window is a crashed orphan
    Seq("dead1", "dead2").foreach { d =>
      new java.io.File(dir, s".compact-tmp-$d").setLastModified(
        System.currentTimeMillis() - graft.ops.ShardDirs.tmpReclaimAfterMs
          - 60000L); ()
    }
    ShardDirs.sweepBelow(spark, dir, 11)
    def names() = new java.io.File(dir).list().toSet
    assert(names() == Set("shard=11", "shard=weird", ".compact-tmp-live"),
      s"sweep(11) must drop shard<11 and AGED staging dirs only: ${names()}")
    // the in-flight staging dir reclaims once it ages past the window
    ShardDirs.sweepBelow(spark, dir, 11, tmpTtlMs = 0L)
    assert(names() == Set("shard=11", "shard=weird"), names().toString)
    // the old implementation probed 0 until base per shard NUMBER -
    // with this base it would issue two billion exists() calls and
    // never return; the listing-based sweep is instant
    ShardDirs.sweepBelow(spark, dir, Int.MaxValue)
    assert(names() == Set("shard=weird"), names().toString)
    // a missing table dir is a quiet no-op (first compact of a
    // single-table family)
    ShardDirs.sweepBelow(spark, dir + "-absent", 5)

    // renameIntoShard arbitration branches, driven directly:
    val tdir = tmpDir("sharddirs-rename") + "/table"
    def stage(name: String): String = {
      val p = s"$tdir/$name"
      Seq((1L, "x")).toDF("id", "v").write.mode("overwrite").parquet(p)
      p
    }
    // 1. clean rename lands
    ShardDirs.renameIntoShard(spark, stage(".compact-tmp-a"),
      s"$tdir/shard=5", "t", () => false)
    assert(spark.read.parquet(s"$tdir/shard=5").count() == 1)
    // 2. dest exists + meta moved -> the loser aborts loudly, its
    // staging dir is discarded, the standing dest is untouched
    val tmpB = stage(".compact-tmp-b")
    val exR = intercept[java.util.ConcurrentModificationException] {
      ShardDirs.renameIntoShard(spark, tmpB, s"$tdir/shard=5", "t",
        () => true)
    }
    assert(exR.getMessage.contains("lost the commit race"), exR.getMessage)
    assert(!new java.io.File(tmpB).exists(), "loser's staging must go")
    assert(spark.read.parquet(s"$tdir/shard=5").count() == 1,
      "winner's dest must be untouched")
    // 3. dest exists + meta NOT moved -> crashed orphan: healed,
    // retry rename lands the new content
    val tmpC = stage(".compact-tmp-c")
    ShardDirs.renameIntoShard(spark, tmpC, s"$tdir/shard=5", "t",
      () => false)
    assert(spark.read.parquet(s"$tdir/shard=5").count() == 1 &&
      !new java.io.File(tmpC).exists())
  }

  test("wordpiece byte fallback (r17): unsegmentable words expand to " +
      "<0xXX> pieces - closed vocab, lossless round-trip, the BERT " +
      "[UNK] contract (and d59) untouched") {
    import graft.ops.{Unigram, WordPiece}
    val vocab = WordPiece.train(
      Seq((1L, base)).toDF("doc_id", "text"), vocabSize = 60)
    // a word with a char the corpus never saw: plain encode keeps the
    // BERT whole-word [UNK]; byte fallback expands the WORD to bytes
    assert(WordPiece.encodeWord("na\u00efve", vocab).toSeq ==
      Seq(WordPiece.Unk))
    val bp = WordPiece.encodeWordBytes("na\u00efve", vocab)
    assert(bp.forall(_.startsWith("<0x")), bp.toSeq.toString)
    assert(Unigram.decodePieces(bp.toSeq) == "na\u00efve",
      "byte pieces must round-trip the original word")
    // segmentable words: both encoders agree piece for piece
    assert(WordPiece.encodeWordBytes("quick", vocab).toSeq ==
      WordPiece.encodeWord("quick", vocab).toSeq)
    // an astral codepoint (two UTF-16 surrogates) survives as UTF-8
    val emoji = new String(Character.toChars(0x1F600))
    assert(Unigram.decodePieces(
      WordPiece.encodeWordBytes(emoji, vocab).toSeq) == emoji)
    // the column twin: same struct schema, no [UNK] ever rendered,
    // n_wp counts the byte pieces
    val enc = Seq((1L, Seq("fox", "na\u00efve"))).toDF("id", "ws")
      .select(WordPiece.encodeBytesCol(col("ws"), vocab).as("e"))
      .select(col("e.n_wp"), col("e.toks")).head()
    assert(!enc.getString(1).contains("[UNK]"), enc.getString(1))
    assert(enc.getString(1).contains("<0x"), enc.getString(1))
    assert(enc.getInt(0) ==
      WordPiece.encodeWord("fox", vocab).length + 6,
      s"n_wp must count byte pieces: $enc")
  }

  test("binary-quantization kNN (r17): full-fetch bq equals brute " +
      "force exactly, small-fetch keeps real recall, sign rule and " +
      "dim cap are pinned") {
    import graft.ops.Similarity
    def vec(i: Int) = Array.tabulate(12)(d =>
      math.sin(0.7 * i + 1.3 * d).toFloat)
    val corpus = (0 until 40).map(i => (i.toLong, vec(i))).toDF("id", "vec")
    val queries = (0 until 6).map(i => (i.toLong, vec(i))).toDF("qid", "qvec")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sortBy(t => (t._1, t._2))
    // fetch >= corpus: the hamming shortlist keeps everything, so the
    // rerank IS brute force - identical rows, scores, ranks
    val brute = rows(Similarity.bruteForceKnn(corpus, queries, 5))
    val full = rows(Similarity.bqKnn(corpus, queries, 5, fetch = 40))
    assert(full == brute, s"full-fetch bq must equal brute force")
    // small fetch: approximate but sane - per-query top-5 overlap
    // with brute force stays above half on this smooth fixture
    val approx = rows(Similarity.bqKnn(corpus, queries, 5, fetch = 10))
    val recall = (0 until 6).map { q =>
      val b = brute.filter(_._1 == q).map(_._3).toSet
      val a = approx.filter(_._1 == q).map(_._3).toSet
      b.intersect(a).size.toDouble / b.size
    }.sum / 6
    assert(recall >= 0.5, s"bq recall@5 collapsed: $recall")
    // sign rule: strictly positive only - zeros code 0
    val sig = corpus.sparkSession.range(1).select(
      graft.functions.CatalystFunctions.signBits(
        typedLit(Array(1.0, 0.0, -2.0, 3.0))).as("s"))
      .head().getLong(0)
    assert(sig == ((1L << 0) | (1L << 3)), s"sign bits: $sig")
    // dim > 64 fails loudly, not silently truncated
    val ex = intercept[Exception] {
      corpus.sparkSession.range(1).select(
        graft.functions.CatalystFunctions.signBits(
          typedLit(Array.fill(65)(1.0))).as("s")).collect()
    }
    assert(ex.getMessage.contains("64"), ex.getMessage)
  }

  test("topKByKey (r18, VERDICT #1): the bounded-heap aggregate equals " +
      "the window recipe exactly - ties, k boundary, both directions - " +
      "and the routed kNN plans are Window-free") {
    import graft.ops.Similarity
    import org.apache.spark.sql.expressions.Window
    // tie-heavy frame: the metric collides across ids within every
    // group (7 distinct values over 97 rows), spread over partitions
    // so map-side partial heaps, serialization, and the reduce-side
    // merge all run
    val data = for { g <- 0 until 5; i <- 0 until 97 }
      yield (g.toLong, (g * 97 + i).toLong, (i % 7).toDouble)
    val df = data.toDF("qid", "id", "m").repartition(7)
    def windowed(desc: Boolean, k: Int) = {
      val ord =
        if (desc) Seq(col("m").desc, col("id")) else Seq(col("m"), col("id"))
      df.withColumn("rank", row_number().over(
          Window.partitionBy("qid").orderBy(ord: _*)))
        .filter(col("rank") <= k)
        .select(col("qid"), col("rank"), col("id"), col("m"))
    }
    def canon(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    for (desc <- Seq(true, false); k <- Seq(1, 6, 97, 200)) {
      val got = canon(Similarity.topKByKey(df, "qid", "id", "m", desc, k))
      assert(got == canon(windowed(desc, k)), s"desc=$desc k=$k")
    }
    // the routed plans: bounded map-side heaps (ObjectHashAggregate
    // partials - only partitions x k rows ever reach one reducer),
    // never a per-query window sort of the WHOLE candidate set
    def vecs(n: Int) = (0 until n).map(i =>
      (i.toLong, Array.tabulate(8)(d => math.cos(i + 0.3 * d).toFloat)))
    val corpus = vecs(30).toDF("id", "vec")
    val queries = vecs(3).toDF("qid", "qvec")
    Seq(
      Similarity.bruteForceKnn(corpus, queries, 3),
      Similarity.bqKnn(corpus, queries, 3, fetch = 8),
      Similarity.matryoshkaKnn(corpus, queries, 3, dims = 4, fetch = 8)
    ).foreach { knn =>
      val plan = knn.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"),
        "kNN shortlist/rank must not single-reducer window-sort")
      assert(plan.contains("ObjectHashAggregate"), plan.take(400))
    }
  }

  test("IVF probe join broadcasts the probe side (r18, closing the " +
      "family gap with IvfPq/IvfSq r12): the assigned corpus never " +
      "sort-merge shuffles by cell per query batch") {
    import graft.ops.IvfIndex
    def vec(i: Int) = Array.tabulate(8)(d =>
      math.cos(0.4 * i + 0.9 * d).toFloat)
    val corpus = (0 until 40).map(i => (i.toLong, vec(i))).toDF("id", "vec")
    val idx = IvfIndex.build(corpus, nCells = 8, refineIters = 0,
      persist = false)
    val q = (0 until 4).map(i => (i.toLong, vec(i))).toDF("qid", "qvec")
    val plan = idx.query(q, 3).queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"probe join must broadcast, got:\n${plan.take(600)}")
  }

  test("BqIndex (r18, VERDICT #2): sharded build+append answers " +
      "bit-identically to one-shot bqKnn (appends are EXACT - no " +
      "trained state), retry-tag no-ops, compact is result-invariant") {
    import graft.ops.{BqIndex, Similarity}
    def vec(i: Int) = Array.tabulate(12)(d =>
      math.sin(0.7 * i + 1.3 * d).toFloat)
    val all = (0 until 48).map(i => (i.toLong, vec(i)))
    val corpus = all.toDF("id", "vec")
    val queries = (0 until 5).map(i => (i.toLong, vec(i))).toDF("qid", "qvec")
    val path = tmpDir("bq-idx") + "/idx"
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sortBy(t => (t._1, t._2))
    // build over 2/3, append the rest in two tagged deltas
    BqIndex.build(all.filter(_._1 % 3 != 0L).toDF("id", "vec"), path)
    assert(BqIndex.exists(spark, path))
    BqIndex.append(all.filter(_._1 % 6 == 0L).toDF("id", "vec"), path,
      tag = "day-1")
    BqIndex.append(all.filter(_._1 % 6 == 3L).toDF("id", "vec"), path,
      tag = "day-2")
    assert(BqIndex.liveShards(spark, path) == 3)
    // the exactness law: a row's signature does not depend on when it
    // arrived, so the sharded lifecycle IS the one-shot operator
    val oneShot = rows(Similarity.bqKnn(corpus, queries, 4, fetch = 12))
    val sharded = rows(BqIndex.query(spark, path, queries, 4, fetch = 12))
    assert(sharded == oneShot,
      s"sharded BQ must equal one-shot bqKnn:\n$sharded\n$oneShot")
    // same-tag retry no-op (the streaming foreachBatch contract)
    def meta() = { val m = spark.read.parquet(s"$path/meta").head()
      (m.getInt(m.fieldIndex("shards")), m.getInt(m.fieldIndex("base")),
        m.getString(m.fieldIndex("tag"))) }
    val f1 = meta()
    BqIndex.append(all.filter(_._1 % 6 == 3L).toDF("id", "vec"), path,
      tag = "day-2")
    assert(meta() == f1, "same-tag append must be a no-op")
    // compact: merged shard at frontier+2 (the concurrency namespace
    // split), base raised, tag preserved, results bit-identical
    BqIndex.compact(spark, path)
    assert(meta() == ((4, 4, "day-2")), s"post-compact meta: ${meta()}")
    assert(BqIndex.liveShards(spark, path) == 1)
    assert(rows(BqIndex.query(spark, path, queries, 4, fetch = 12)) ==
      oneShot, "compact must not change any result byte")
    // appends continue against the merged layout
    BqIndex.append(Seq((1000L, vec(1000))).toDF("id", "vec"), path,
      tag = "day-3")
    assert(meta() == ((5, 4, "day-3")), meta().toString)
    val q1000 = Seq((999L, vec(1000))).toDF("qid", "qvec")
    val hit = BqIndex.query(spark, path, q1000, 3, fetch = 8).collect()
      .map(r => (r.getInt(1), r.getLong(2))).toMap
    assert(hit(1) == 1000L, s"appended vector must rank first: $hit")
  }

  test("BqIndex: crashed-append orphan dirs are invisible, a CAS race " +
      "aborts the later writer loudly, and a plain-IVF path reads as " +
      "missing (family witness)") {
    import graft.ops.{BqIndex, IvfIndex}
    import java.util.ConcurrentModificationException
    def vec(i: Int) = Array.tabulate(12)(d =>
      math.sin(0.7 * i + 1.3 * d).toFloat)
    val all = (0 until 30).map(i => (i.toLong, vec(i)))
    val queries = (0 until 4).map(i => (i.toLong, vec(i))).toDF("qid", "qvec")
    val path = tmpDir("bq-orphan") + "/idx"
    BqIndex.build(all.toDF("id", "vec"), path)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sortBy(t => (t._1, t._2))
    val before = rows(BqIndex.query(spark, path, queries, 3, fetch = 10))
    // a crashed append: data dirs landed above the frontier, meta
    // commit never happened - queries must not see a single row of it
    Seq((500L, vec(0))).toDF("id", "vec")
      .select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("vec").cast("array<double>")
          .as("vec"))
      .select(org.apache.spark.sql.functions.col("id"),
        graft.functions.CatalystFunctions.signBits(
          org.apache.spark.sql.functions.col("vec")).as("sig"))
      .write.parquet(s"$path/sigs/shard=1")
    assert(rows(BqIndex.query(spark, path, queries, 3, fetch = 10)) ==
      before, "orphan shard above the frontier must be invisible")
    // CAS: an append planned against a meta a competing writer then
    // moved must abort loudly, never overwrite the winner's commit
    val prev = IvfIndex.beforeCasCommit
    try {
      var fired = false
      IvfIndex.beforeCasCommit = () => if (!fired) {
        fired = true
        BqIndex.append(Seq((600L, vec(600))).toDF("id", "vec"), path,
          tag = "winner")
      }
      val ex = intercept[ConcurrentModificationException] {
        BqIndex.append(Seq((601L, vec(601))).toDF("id", "vec"), path,
          tag = "loser")
      }
      assert(ex.getMessage.contains("lost the commit race"), ex.getMessage)
    } finally IvfIndex.beforeCasCommit = prev
    // the winner's append stands and is queryable
    val q600 = Seq((999L, vec(600))).toDF("qid", "qvec")
    assert(BqIndex.query(spark, path, q600, 1, fetch = 5).collect()
      .head.getLong(2) == 600L)
    // family witness: a plain-IVF save at another path has a committed
    // meta but no sigs table - BqIndex must read it as missing
    val ivfPath = tmpDir("bq-not-ivf") + "/idx"
    IvfIndex.build(all.toDF("id", "vec"), nCells = 2, persist = false)
      .save(ivfPath)
    assert(IvfIndex.exists(spark, ivfPath))
    assert(!BqIndex.exists(spark, ivfPath),
      "a plain-IVF layout must not read as a complete BQ index")
  }

  test("clusterBalancedSample (optimization r18): one-pass count+heap " +
      "aggregation equals the window recipe exactly and the plan is " +
      "Window-free") {
    import org.apache.spark.sql.expressions.Window
    import graft.ops.{Sampling, Similarity}
    val corpus = spark.range(0, 300, 1, 7).select(col("id"),
      array((0 until 4).map(d =>
        (cos(col("id") * (d + 1)) * 10).cast("float")): _*).as("vec"))
    val cent = corpus.filter(col("id") < 3)
      .select(col("id").as("cell"), col("vec").as("cvec"))
    val got = Similarity.clusterBalancedSample(corpus, cent, cap = 7)
    // the window recipe this replaced, over the SAME assignment rows
    // (recomputed here through the public output: per-cluster members
    // are got's rows only when cap >= members, so derive the expected
    // ranks from an uncapped call)
    val allRows = Similarity.clusterBalancedSample(corpus, cent,
      cap = 1000) // > corpus size: keeps every member, rank intact
    val w = Window.partitionBy("cluster")
      .orderBy(Sampling.hashBucket(col("id")), col("id"))
    val expect = allRows.select(col("cluster"), col("n_members"), col("id"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3))).toSet
    val gotSet = got.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getInt(3))).toSet
    assert(gotSet == expect,
      "rows/ranks must match the row_number recipe bit-for-bit")
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      "the balanced sample must not per-cell window-sort")
    assert(plan.contains("ObjectHashAggregate"), plan.take(400))
  }

  test("ParActions (optimization r18): runs every action, returns both " +
      "values, and rethrows the FIRST failure's original exception") {
    import graft.ops.ParActions
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    val (a, b) = ParActions.run2(
      () => { ran.incrementAndGet(); 41 },
      () => { ran.incrementAndGet(); "x" })
    assert((a, b) == ((41, "x")) && ran.get() == 2)
    // one failing action: the others still complete (the writes of a
    // commit step must reach their terminal state before the caller's
    // abort path runs), and the original exception surfaces
    val survived = new java.util.concurrent.atomic.AtomicBoolean(false)
    val ex = intercept[IllegalStateException] {
      ParActions.run(
        () => throw new IllegalStateException("boom-first"),
        () => { Thread.sleep(50); survived.set(true) })
    }
    assert(ex.getMessage == "boom-first")
    assert(survived.get(), "sibling actions must run to completion")
  }

  test("BqIndex write sizing (optimization r18): a small delta lands " +
      "ONE parquet file per table per shard, not defaultParallelism " +
      "near-empty ones") {
    import graft.ops.BqIndex
    def vec(i: Long) = Array.tabulate(8)(d => math.sin(i + d).toFloat)
    val all = (0L until 64L).map(i => (i, vec(i)))
    val path = tmpDir("bq-sized") + "/idx"
    BqIndex.build(all.filter(_._1 % 2 == 0).toDF("id", "vec"), path)
    BqIndex.append(all.filter(_._1 % 2 == 1).toDF("id", "vec"), path,
      tag = "d1")
    Seq("sigs/shard=0", "sigs/shard=1", "corpus/shard=0", "corpus/shard=1")
      .foreach { t =>
        val files = new java.io.File(s"$path/$t").listFiles()
          .count(f => f.getName.startsWith("part-"))
        assert(files == 1, s"$t has $files part files, expected 1")
      }
    // and the sharded query still answers identically to the one-shot
    val q = all.take(3).map { case (i, v) => (i, v) }.toDF("qid", "qvec")
    val viaIndex = BqIndex.query(spark, path, q, k = 3, fetch = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val oneShot = graft.ops.Similarity.bqKnn(all.toDF("id", "vec"), q,
      k = 3, fetch = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(viaIndex == oneShot)
  }

  test("MetaIo (optimization r19): direct driver-side reads equal " +
      "spark.read for Spark-written artifacts, and MetaSwap's direct " +
      "scalar commit round-trips through BOTH readers") {
    import graft.ops.{MetaIo, MetaSwap}
    import spark.implicits._
    // (a) Spark-written single-row artifact with arrays (the
    // sqmodel/codebook shape) reads back identically through MetaIo
    val arrDir = tmpDir("metaio-arr") + "/t"
    Seq((Seq(1.5, -2.0), Seq(0.25, 3.0), 7, 42L, "tag-x"))
      .toDF("vmin", "vmax", "m", "epoch", "tag")
      .coalesce(1).write.parquet(arrDir)
    val viaSpark = spark.read.parquet(arrDir).head()
    val viaDirect = MetaIo.readHead(spark, arrDir)
    assert(viaDirect.schema.fieldNames.toSeq ==
      viaSpark.schema.fieldNames.toSeq)
    assert(viaDirect.getSeq[Double](0) == viaSpark.getSeq[Double](0))
    assert(viaDirect.getSeq[Double](1) == viaSpark.getSeq[Double](1))
    assert(viaDirect.getInt(2) == 7 && viaDirect.getLong(3) == 42L &&
      viaDirect.getString(4) == "tag-x")
    // (b) multi-row table (the centroids shape): rows + schema match
    val multiDir = tmpDir("metaio-multi") + "/t"
    Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0)), (2, Seq(0.5, 0.5)))
      .toDF("cell", "cvec").coalesce(1).write.parquet(multiDir)
    val (schema, rows) = MetaIo.readRows(spark, multiDir)
    val expect = spark.read.parquet(multiDir).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toList)).toSet
    assert(rows.map(r => (r.getInt(0), r.getSeq[Double](1).toList)).toSet
      == expect)
    assert(schema.fieldNames.toSeq == Seq("cell", "cvec"))
    // (c) MetaSwap.commit's direct scalar fast path: layout has a
    // part file + _SUCCESS (committedParquetExists grades it), and
    // the row reads back identically through spark.read AND MetaIo —
    // including a second commit (the swap/heal path)
    val metaDir = tmpDir("metaio-meta") + "/meta"
    MetaSwap.commit(Seq((4, 2, "t1", 0, "", 99L))
      .toDF("n_cells", "shards", "tag", "base", "rot", "epoch"), metaDir)
    assert(MetaSwap.committed(spark, metaDir))
    val m1 = spark.read.parquet(metaDir).head()
    assert(m1.getAs[Int]("n_cells") == 4 && m1.getAs[String]("tag") == "t1"
      && m1.getAs[Long]("epoch") == 99L)
    MetaSwap.commit(Seq((4, 3, "t2", 0, "", 99L))
      .toDF("n_cells", "shards", "tag", "base", "rot", "epoch"), metaDir)
    val m2 = MetaIo.readHead(spark, MetaSwap.readDir(spark, metaDir))
    assert(m2.getAs[Int]("shards") == 3 && m2.getAs[String]("tag") == "t2")
    // (d) nulls round-trip (an optional field with no value)
    val nullDir = tmpDir("metaio-null") + "/t"
    Seq((Some(1), None: Option[String]), (None: Option[Int], Some("b")))
      .toDF("a", "b").coalesce(1).write.parquet(nullDir)
    val (_, nrows) = MetaIo.readRows(spark, nullDir)
    assert(nrows.map(r => (Option(r.get(0)), Option(r.get(1)))).toSet ==
      Set((Some(1), None), (None, Some("b"))))
  }

  test("MetaIo torn write (ADVICE r19): with success markers off, a " +
      "meta write that dies mid-file is never graded committed, and " +
      "MetaSwap's heal discards it instead of promoting it over main") {
    import graft.ops.{MetaIo, MetaSwap}
    import spark.implicits._
    val metaDir = tmpDir("metaio-torn") + "/meta"
    val next = metaDir + ".next"
    def metaRow(shards: Int) = Seq((4, shards, "t", 0, "", 7L))
      .toDF("n_cells", "shards", "tag", "base", "rot", "epoch")
    def shardsRead() = MetaIo.readHead(spark, MetaSwap.readDir(spark, metaDir))
      .getAs[Int]("shards")
    MetaSwap.commit(metaRow(1), metaDir)
    val conf = spark.sparkContext.hadoopConfiguration
    val tmp = new org.apache.hadoop.fs.Path(next, MetaIo.tmpPartName)
    val fs = tmp.getFileSystem(conf)
    val key = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
    conf.setBoolean(key, false)
    try {
      // a writer that fails after its first row leaves only the hidden
      // in-progress file behind: no part file, no _SUCCESS
      intercept[Exception] {
        MetaIo.writeRows(spark, next, metaRow(2).schema, Seq(
          org.apache.spark.sql.Row(4, 2, "t", 0, "", 7L),
          org.apache.spark.sql.Row(4, "torn", "t", 0, "", 7L)))
      }
      assert(fs.exists(tmp))
      assert(MetaSwap.readDir(spark, metaDir) == metaDir,
        "an interrupted .next write must not grade committed")
      assert(shardsRead() == 1)
      // the same after a crash mid-file: truncate the in-progress file
      val local = java.nio.file.Paths.get(tmp.toString)
      val bytes = java.nio.file.Files.readAllBytes(local)
      java.nio.file.Files.write(local, bytes.take(bytes.length / 2))
      assert(MetaSwap.readDir(spark, metaDir) == metaDir,
        "a truncated .next write must not grade committed")
      // the writer-side heal discards the torn .next, main stands
      MetaSwap.heal(spark, metaDir)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(next)))
      assert(shardsRead() == 1)
      // and the next commit lands whole, with no in-progress residue
      MetaSwap.commit(metaRow(3), metaDir)
      assert(shardsRead() == 3)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(metaDir,
        MetaIo.tmpPartName)))
    } finally conf.unset(key)
  }

  test("sizedForWrite (ADVICE r18, overflow): an unknown-size estimate " +
      "(Long.MaxValue stats fallback) keeps the spread instead of " +
      "funneling the write through coalesce(1)") {
    import org.apache.spark.sql.functions.col
    // an RDD-backed frame has no stats beyond the default fallback
    val rdd = spark.sparkContext.parallelize(1L to 64L, 8)
    val df = spark.createDataFrame(rdd.map(org.apache.spark.sql.Row(_)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType))))
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    assume(!est.isValidLong || est.toLong > (128L << 20) * 32,
      s"precondition: estimate must be unknown/huge, got $est")
    val sized = graft.ops.IvfIndex.sizedForWrite(df)
    assert(sized.rdd.getNumPartitions == df.rdd.getNumPartitions,
      "unknown-size input must keep its partitioning")
    // and a tiny KNOWN estimate still coalesces to one part
    val tiny = spark.range(0, 10).select(col("id"))
    assert(graft.ops.IvfIndex.sizedForWrite(tiny).rdd.getNumPartitions == 1)
  }

  test("ParActions (ADVICE r18): an interrupt mid-await drains every " +
      "action to a terminal state before rethrowing") {
    import graft.ops.ParActions
    val finished = new java.util.concurrent.atomic.AtomicInteger(0)
    val started = new java.util.concurrent.CountDownLatch(2)
    @volatile var thrown: Throwable = null
    val runner = new Thread(() => {
      try ParActions.run(
        () => { started.countDown(); Thread.sleep(300); finished.incrementAndGet(); () },
        () => { started.countDown(); Thread.sleep(300); finished.incrementAndGet(); () })
      catch { case t: Throwable => thrown = t }
    })
    runner.start()
    started.await()
    runner.interrupt() // lands in the awaiting f.get()
    runner.join(5000)
    assert(!runner.isAlive, "runner must finish")
    assert(finished.get() == 2,
      "both actions must reach a terminal state despite the interrupt")
    assert(thrown.isInstanceOf[InterruptedException],
      s"the interrupt must surface after the drain, got: $thrown")
  }
}
