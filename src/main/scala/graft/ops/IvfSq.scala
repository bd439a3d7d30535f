package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** A built or loaded IVF-SQ index ([[IvfSq]]). */
final class IvfSqIndex private[ops] (
    ivf: IvfIndex,
    val model: SqModel,
    encoded: DataFrame,
    corpusUnit: DataFrame,
    persisted: Boolean)
    extends ResidualIvfIndex[SqModel](IvfSq, ivf, model, encoded, corpusUnit,
      persisted) {

  /** Persist under `path` (the [[IndexLayout.save]] protocol: meta
    * marker last, stale marker dropped first — crash-safe). `tag` seeds
    * the append-idempotence token. */
  def save(path: String, tag: String = ""): Unit = saveAs(path, "", tag)
}

/** IVF + scalar quantization (the FAISS "IVF<x>,SQ8" index):
  * [[ResidualIvf]] with SQ8-encoded RESIDUALS — one byte per dimension
  * instead of PQ's one byte per subspace. 4× memory (vs PQ's 32×) buys
  * near-exact ranking with no codebook training: the residual model is
  * a per-dimension min/max pass. The production middle ground when
  * IVF-PQ's quantization error costs too much recall and raw-vector
  * IVF costs too much memory. There is no LUT: the raw qvec IS the
  * scoring payload and rides the probe join directly.
  *
  * With `md5Seeds = true` and `refineIters = 0` the ENTIRE pipeline
  * (cells → residuals → min/max → codes → decode → score → rerank) is
  * sequential deterministic double math — gate e13 hash-matches a
  * DuckDB oracle end to end, which no trained-PQ composition can (Lloyd
  * iterations are engine-specific). Appends clamp values outside the
  * frozen trained range (the Sq encode contract). */
object IvfSq extends ResidualIvf[SqModel, IvfSqIndex] {

  private[graft] def layout: IndexLayout = IndexLayout.IvfSq

  private[ops] def encodeCol(rvec: Column, model: SqModel): Column =
    Sq.encodeCol(rvec, model)

  private[ops] def modelFrame(spark: SparkSession, model: SqModel): DataFrame = {
    import spark.implicits._
    Seq((model.vmin.toSeq, model.vmax.toSeq)).toDF("vmin", "vmax")
  }

  private[ops] def modelFromRow(r: Row): SqModel =
    SqModel(r.getSeq[Double](r.fieldIndex("vmin")).toArray,
      r.getSeq[Double](r.fieldIndex("vmax")).toArray)

  private[ops] def scoreCol(model: SqModel): Column =
    Sq.dotCol(col("codes"), col("qvec"), model)

  private[ops] def index(ivf: IvfIndex, model: SqModel, encoded: DataFrame,
      corpusUnit: DataFrame, persist: Boolean): IvfSqIndex =
    new IvfSqIndex(ivf, model, encoded, corpusUnit, persist)

  /** Build: IVF coarse quantizer, then per-dimension min/max of the
    * residuals and one byte code per dimension for every row.
    * `md5Seeds = true` + `refineIters = 0` makes the whole build
    * SQL-reproducible (gate e13). */
  def build(corpus: DataFrame, nCells: Int = 0, refineIters: Int = 1,
      persist: Boolean = true, md5Seeds: Boolean = false): IvfSqIndex =
    buildWith(corpus, nCells, refineIters, persist, md5Seeds)(
      Sq.train(_, "rvec"))

  /** [[ResidualIvf.appendWith]] under the frozen min/max model. */
  def append(delta: DataFrame, path: String, tag: String = ""): Unit =
    appendWith(delta, path, tag, rot = "")

  /** [[ResidualIvf.rebuildWith]]: fresh centroids and a fresh min/max
    * model. */
  def rebuild(spark: SparkSession, path: String, nCells: Int = -1,
      refineIters: Int = 1, md5Seeds: Boolean = false): Unit =
    rebuildWith(spark, path, nCells, refineIters, md5Seeds)(
      Sq.train(_, "rvec"))

  private[graft] def rebuildStored(spark: SparkSession, path: String): Unit =
    rebuild(spark, path)
}
