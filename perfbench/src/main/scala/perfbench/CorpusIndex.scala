package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.ops.{BqIndex, Dedup, IvfSq, IvfSqIndex, Similarity}

/** The LLM-data operator layer, with no scenario store. Set-up builds
  * an LSH near-duplicate index over a seeded corpus and dedups a delta
  * batch against it (half the batch planted near-duplicates of indexed
  * documents), builds an IVF-SQ index over clustered 64-d embeddings,
  * runs one binary-quantised (BQ) index lifecycle over the same vectors,
  * and warms up with `WarmIters` untimed iterations of the loop. Each
  * iteration appends a batch of new vectors to the IVF-SQ index,
  * compacts it and reopens it, then makes single-query kNN calls. Time
  * goes to the index lifecycle (meta commits, shard writes, compaction)
  * and per-query job overhead. */
final class CorpusIndex(h: Harness, seed: Long) extends Workload {
  import CorpusIndex._
  private val spark = h.spark
  private val gen = new Gen(spark, seed)
  private var sq = ""
  private var vectors: Seq[DataFrame] = Nil // every indexed batch, cached
  private var nextId = 0L
  private var nextQid = QidBase
  private var index: IvfSqIndex = _

  def setup(root: String): Unit = {
    val lsh = s"$root/lsh"
    sq = s"$root/ivfsq"
    val texts = gen.texts(Docs, DocWords)
    h.call("ops.lsh_build")(Dedup.buildLshIndex(gen.docs(0L, texts),
      "doc_id", "text", lsh))
    val (delta, planted) = gen.docBatch(texts, DeltaDocs, DeltaDocs / 2, DeltaIdBase)
    val pairs = h.call("ops.lsh_delta")(
      Dedup.dedupDelta(delta, "doc_id", "text", lsh).collect())
    val found = pairs.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val recall = planted.count(found.contains).toDouble / planted.size
    println(f"dedup recall: $recall%.3f")
    h.check(recall >= DedupRecallFloor,
      f"dedup recall $recall%.3f below floor $DedupRecallFloor")

    val base = gen.vectors(VecBase, 0L).cache()
    vectors = Seq(base); nextId = VecBase
    h.call("ops.ivfsq_build")(
      IvfSq.build(base, nCells = Cells, refineIters = 0, persist = false).save(sq))
    index = h.call("ops.ivfsq_load")(IvfSq.load(spark, sq))
    bqCycle(s"$root/bq", base)
  }

  def iteration(it: Int): Unit = {
    h.timed("write")(ingest())
    (0 until Singles).foreach(_ => single())
  }

  /** One single-query kNN call. */
  private def single(): Unit = {
    val q = gen.queries(1, nextQid); nextQid += 1
    val got = h.call("ops.ivfsq_query", "read")(index.query(q, K).collect())
    h.check(got.length == K, s"IVF-SQ kNN returned ${got.length} rows, want $K")
  }

  /** Append a vector batch to the IVF-SQ index, compact it, reopen it. */
  private def ingest(): Unit = {
    val vecs = gen.vectors(BatchVecs, nextId).cache()
    nextId += BatchVecs
    vectors :+= vecs
    h.call("ops.ivfsq_append")(IvfSq.append(vecs, sq, tag = s"b$nextId"))
    // the open index reads the shards compaction replaces: close first
    index.close()
    h.call("ops.ivfsq_compact")(IvfSq.compact(spark, sq))
    index = h.call("ops.ivfsq_load")(IvfSq.load(spark, sq))
  }

  /** BQ index lifecycle as the library's own pipeline runs it: build
    * over 3/4 of `vecs`, two appends covering the rest, compact, then a
    * batch query, whose answer must equal the one-shot
    * `Similarity.bqKnn` over the same vectors (appends are exact). */
  private def bqCycle(path: String, vecs: DataFrame): Unit = {
    h.call("ops.bq_build")(BqIndex.build(vecs.filter(col("id") % 4 =!= 0), path))
    h.call("ops.bq_append")(
      BqIndex.append(vecs.filter(col("id") % 8 === 0), path, tag = "delta-a"))
    h.call("ops.bq_append")(
      BqIndex.append(vecs.filter(col("id") % 8 === 4), path, tag = "delta-b"))
    h.call("ops.bq_compact")(BqIndex.compact(spark, path))
    val qs = gen.queries(BatchQueries, nextQid).cache()
    nextQid += BatchQueries
    def pairs(rows: Array[Row]) = rows.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("id"))).toSet
    val got = pairs(h.call("ops.bq_query")(BqIndex.query(spark, path, qs, K).collect()))
    val want = pairs(Similarity.bqKnn(vecs, qs, K).collect())
    h.check(got.size == BatchQueries * K && got == want,
      s"BQ index kNN: ${got.size} pairs, ${(got -- want).size} not in one-shot bqKnn")
    qs.unpersist()
  }

  /** One batch query against exact search over every indexed vector. */
  def verify(): Unit = {
    val batch = gen.queries(BatchQueries, nextQid).cache()
    nextQid += BatchQueries
    val exact = Similarity.bruteForceKnn(vectors.reduce(_ union _), batch, K)
      .select("qid", "id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    def recall(rows: Array[Row]): Double = {
      val got = rows.groupBy(_.getAs[Long]("qid"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("id")).toSet }
      exact.map { case (q, want) => got.getOrElse(q, Set.empty).count(want.contains) }
        .sum.toDouble / (exact.size * K)
    }
    val sqRecall = recall(h.call("ops.ivfsq_query")(index.query(batch, K).collect()))
    println(f"recall@$K: IVF-SQ $sqRecall%.3f")
    h.check(sqRecall >= IvfSqRecallFloor,
      f"IVF-SQ recall@$K $sqRecall%.3f below floor $IvfSqRecallFloor")
    batch.unpersist()
  }

  /** Indexed documents and vectors (IVF-SQ and BQ). */
  def liveRows: Long = Docs + nextId + VecBase

  def warmIters: Int = WarmIters
  def minIters: Int = TimedIters
}

object CorpusIndex {
  val Docs = 1000
  val DocWords = 60
  val DeltaDocs = 200
  val VecBase = 3000
  val BatchVecs = 200
  val Singles = 2
  val WarmIters = 1
  val TimedIters = 7
  val Cells = 16
  val BatchQueries = 30
  val DeltaIdBase = 1000000L
  val QidBase = 10000000L
  val K = 10
  // floors: below these an index answers wrongly, whatever its speed
  val DedupRecallFloor = 0.95
  val IvfSqRecallFloor = 0.8
}
