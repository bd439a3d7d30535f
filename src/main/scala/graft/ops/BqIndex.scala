package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted binary-quantization index (VERDICT r17 #2): the
  * [[Similarity.bqKnn]] funnel over a COMMITTED narrow `sigs` table
  * instead of re-encoding the corpus per query batch — which is what
  * makes BQ's 16-bytes-per-row hamming-scan story real at 100 TB: the
  * hot scan reads (id, sig) parquet (two columns, 16 bytes a row, 32×
  * less I/O than the raw floats), and the raw vectors are touched only
  * by the broadcast-shortlist rerank pass.
  *
  * Unlike every other persisted ANN family here (IVF/IVF-PQ/IVF-SQ:
  * trained centroids/codebooks; LSH/SimHash: fixed hyperplanes; BM25:
  * corpus statistics), BQ has NO trained state at all — the sign rule
  * is the model — so appends are EXACT by construction: an appended
  * row's signature is identical to what a from-scratch build would
  * give it, there is no drift dimension and no rebuild (re-training
  * nothing changes nothing; `compact` is the only maintenance). Gate
  * e21 exploits exactly that: build over part of the corpus + appends
  * covering the rest answers queries bit-identically to the one-shot
  * [[Similarity.bqKnn]], so the whole sharded lifecycle shares e20's
  * full-hash DuckDB oracle.
  *
  * Layout (the shared [[IndexLayout]] lifecycle of the IVF family —
  * ShardDirs staging, MetaSwap'd meta written LAST, CAS commits, ABA
  * layout epoch):
  * {{{
  *   path/sigs/shard=G     (id, sig long)   — the hot 16 B/row scan
  *   path/corpus/shard=G   (id, vec unit)   — rerank source only
  *   path/meta             (swap-committed; n_cells is inert here)
  * }}}
  * `sigs` keeps EVERY input row (a zero-norm vector still has a
  * signature — all bits clear — and competes in the hamming shortlist,
  * exactly as [[Similarity.bqKnn]] and the e20 oracle rank it);
  * `corpus` drops zero-norm rows (they have no cosine and can never
  * appear in results — the build rule every rerank source follows). */
object BqIndex extends IndexLifecycle {

  private[graft] def layout: IndexLayout = IndexLayout.Bq

  private def sigOf(vec: org.apache.spark.sql.Column) =
    graft.functions.CatalystFunctions.signBits(vec.cast("array<double>"))

  /** The (sig, unit-vector) frames one input delta contributes — the
    * ONE copy of the encode rule build and append both commit. Writes
    * are sized from the plan's size estimate instead of inheriting the
    * spread's defaultParallelism ([[IvfIndex.sizedForWrite]]). */
  private def encodeDelta(delta: DataFrame): (DataFrame, DataFrame) = {
    val d = Similarity.spreadDf(delta)
      .select(col("id"), col("vec").cast("array<double>").as("vec"))
    (IvfIndex.sizedForWrite(d.select(col("id"), sigOf(col("vec")).as("sig"))),
      IvfIndex.sizedForWrite(d.select(col("id"),
          Similarity.unitVec(col("vec")).as("vec"))
        .filter(col("vec").isNotNull)))
  }

  /** Index `corpus` (id, vec) rows under `path`. Dimensions cap at 64
    * (one long of sign bits — [[graft.functions.SignBitsExpr]]'s
    * contract, checked loudly at encode). `tag` seeds the
    * append-idempotence token. */
  def build(corpus: DataFrame, path: String, tag: String = ""): Unit = {
    val (sigs, unit) = encodeDelta(corpus)
    // independent sibling writes overlap (guide §2.6); meta still last
    layout.save(corpus.sparkSession, path, 0, tag)(root => ParActions.run(
      () => sigs.write.mode("overwrite").parquet(s"$root/sigs/shard=0"),
      () => unit.write.mode("overwrite").parquet(s"$root/corpus/shard=0")))
  }

  /** Fold new vectors in as the next `shard=G` of both tables — EXACT
    * (no frozen-model approximation: the signature of a row does not
    * depend on when it arrived). Same `tag` idempotence, unique-ids
    * caller contract, and CAS commit as every other append. */
  def append(delta: DataFrame, path: String, tag: String = ""): Unit = {
    val spark = delta.sparkSession
    val meta = layout.requireMeta(spark, path)
    if (tag.nonEmpty && tag == meta.tag) return // retry of an applied append
    val (sigs, unit) = encodeDelta(delta)
    // both shard writes are orphans until the meta commit (LAST) — a
    // crash leaves only dirs the frontier never selects; overlap them
    ParActions.run(
      () => sigs.write.mode("overwrite")
        .parquet(s"$path/sigs/shard=${meta.shards + 1}"),
      () => unit.write.mode("overwrite")
        .parquet(s"$path/corpus/shard=${meta.shards + 1}"))
    IvfIndex.commitMetaCas(spark, path, meta.shards + 1, tag,
      newBase = meta.base, expect = meta, what = "bq append")
  }

  /** Top-k per (qid, qvec) query row — [[Similarity.bqKnn]]'s funnel
    * (hamming shortlist of `fetch`, exact unit-dot rerank to k; same
    * self-exclusion, tie, and zero-norm conventions) reading the
    * COMMITTED live shards: the shortlist scans only the narrow sigs
    * table through the bounded map-side top-k
    * ([[Similarity.topKByKey]] — no per-query window sort anywhere),
    * and only the shortlisted ids touch the stored vectors. */
  def query(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, fetch: Int = 0): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val f = if (fetch <= 0) math.max(4 * k, 30) else fetch
    require(f >= k, s"fetch ($f) must be >= k ($k)")
    val meta = layout.requireMeta(spark, path)
    val live = (t: String) => IndexLayout.live(spark, s"$path/$t", meta)
    val sigs = live("sigs").select(col("id"), col("sig"))
    Similarity.requireComparableIds(queries, sigs)
    val qs = queries.select(col("qid"), sigOf(col("qvec")).as("qsig"))
    val ham = sigs.crossJoin(broadcast(qs))
      .filter(col("id") =!= col("qid"))
      .withColumn("hamming",
        bit_count(col("sig").bitwiseXOR(col("qsig"))))
      .select(col("qid"), col("id"), col("hamming"))
    val shortlist = Similarity.topKByKey(ham, "qid", "id", "hamming",
      metricDesc = false, f).select("qid", "id")
    val cu = live("corpus").select(col("id"), col("vec"))
    val qu = queries.select(col("qid"),
        Similarity.unitVec(col("qvec")).as("qvec"))
      .filter(col("qvec").isNotNull)
    Similarity.rerankShortlist(cu, shortlist, qu, k)
  }
}
