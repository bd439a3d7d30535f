package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** A built or loaded IVF-PQ index ([[IvfPq]]). */
final class IvfPqIndex private[ops] (
    ivf: IvfIndex,
    val cb: PqCodebook,
    encoded: DataFrame,
    corpusUnit: DataFrame,
    persisted: Boolean)
    extends ResidualIvfIndex[PqCodebook](IvfPq, ivf, cb, encoded, corpusUnit,
      persisted) {

  /** Persist the full index under `path` (the [[IndexLayout.save]]
    * protocol: meta marker LAST, the previous one dropped first).
    *
    * `rot` pins an index built over an OPQ-ROTATED corpus to its
    * rotation (pass [[graft.ops.Pq.rotationHash]] of the matrix;
    * VERDICT r15 #2): the pin is stored in the meta and REQUIRED to
    * match on every [[IvfPq.append]]/[[graft.ops.Pq.appendOpq]] with a
    * rotation claim, so retraining the OPQ model in place can never
    * silently mix rotations in one codes table (the codes would be
    * garbage with no error anywhere). */
  def save(path: String, rot: String = "", tag: String = ""): Unit =
    saveAs(path, rot, tag)
}

/** IVF-PQ (IVFADC, Jégou et al. 2011 §V): the production billion-scale
  * ANN index — [[ResidualIvf]] with RESIDUAL product-quantization codes
  * (m table lookups per candidate; 8-16 bytes of codes replace a
  * 256-byte raw vector). The query's m·ks-double LUT rides only the
  * |q| row frame and re-attaches AFTER probing (review r11: carried
  * through topCells it fanned out across all nCells rows of the probe
  * crossJoin + window shuffle). */
object IvfPq extends ResidualIvf[PqCodebook, IvfPqIndex] {

  private[graft] def layout: IndexLayout = IndexLayout.IvfPq

  private[ops] def encodeCol(rvec: Column, cb: PqCodebook): Column =
    Pq.encodeCol(rvec, cb)

  private[ops] def modelFrame(spark: SparkSession, cb: PqCodebook): DataFrame = {
    import spark.implicits._
    Seq((cb.m, cb.ks, cb.dsub, cb.centroids.toSeq))
      .toDF("m", "ks", "dsub", "centroids")
  }

  private[ops] def modelFromRow(r: Row): PqCodebook =
    PqCodebook(r.getAs[Int]("m"), r.getAs[Int]("ks"), r.getAs[Int]("dsub"),
      r.getAs[Seq[Double]]("centroids").toArray)

  override private[ops] def probeSide(qProbes: DataFrame, q: DataFrame,
      cb: PqCodebook): DataFrame =
    qProbes.drop("qvec").join(broadcast(
      q.select(col("qid"), Pq.lutCol(col("qvec"), cb).as("__lut"))), "qid")

  private[ops] def scoreCol(cb: PqCodebook): Column =
    Pq.adcCol(col("codes"), col("__lut"), cb.ks)

  private[ops] def index(ivf: IvfIndex, cb: PqCodebook, encoded: DataFrame,
      corpusUnit: DataFrame, persist: Boolean): IvfPqIndex =
    new IvfPqIndex(ivf, cb, encoded, corpusUnit, persist)

  /** Build the index with a residual PQ codebook of `m` subspaces ×
    * `ks` codes, `pqIters` Lloyd passes. `md5Seeds = true` makes BOTH
    * seeding passes (coarse cells and PQ codebook) hex-md5-ordered —
    * with `refineIters = 0` and `pqIters = 0` the whole
    * cells→codes→ADC→rerank pipeline is then engine-exact (gate e06). */
  def build(corpus: DataFrame, nCells: Int = 0, m: Int = 8, ks: Int = 64,
      pqIters: Int = 2, refineIters: Int = 1,
      persist: Boolean = true, md5Seeds: Boolean = false): IvfPqIndex =
    buildWith(corpus, nCells, refineIters, persist, md5Seeds)(
      Pq.train(_, "id", "rvec", m, ks, pqIters))

  /** [[ResidualIvf.appendWith]] under the frozen codebook. `rot` is the
    * caller's rotation claim ([[graft.ops.Pq.appendOpq]] passes its
    * loaded model's [[graft.ops.Pq.rotationHash]]; plain unrotated
    * appends pass ""): an index whose meta carries a rotation pin
    * REFUSES any append whose claim differs — including the empty claim
    * of a plain append, which would mix unrotated vectors into a
    * rotated codes table. An UNPINNED index appended with a rotation
    * claim adopts the pin (legacy indexes saved before the pin existed
    * close the hole after their first appendOpq). */
  def append(delta: DataFrame, path: String, tag: String = "",
      rot: String = ""): Unit = appendWith(delta, path, tag, rot)

  override protected def admit(path: String, meta: IvfIndex.IdxMeta,
      rot: String): Unit =
    if (meta.rot.nonEmpty && rot != meta.rot)
      throw new IllegalArgumentException(
        s"ivfpq index at '$path' is pinned to OPQ rotation " +
          s"'${meta.rot}' but this append claims '${if (rot.isEmpty) "<unrotated>" else rot}' - " +
          "the index was built over a corpus rotated by a DIFFERENT " +
          "matrix (retrained model in place?); appending would silently " +
          "mix rotations in one codes table. Rebuild the index under " +
          "the new model, or append through Pq.appendOpq with the " +
          "matching model")

  /** The index's OPQ rotation pin ("" when unpinned) — callers
    * composing the rotated QUERY path check their model against it
    * ([[graft.ops.Pq.checkRotation]]) before probing. */
  def rotationPin(spark: SparkSession, path: String): String =
    layout.requireMeta(spark, path).rot

  /** [[ResidualIvf.rebuildWith]]: fresh coarse centroids AND a fresh
    * residual codebook. Negative `nCells`/`m`/`ks` (the defaults)
    * PRESERVE the stored geometry (meta cell count; the codebook's m
    * and ks) — a rebuild must not silently change a production index's
    * compression format, and an incompatible default m would refuse
    * outright on dims it doesn't divide. The OPQ rotation pin carries
    * through: the corpus is stored ALREADY rotated, so retraining the
    * quantizers under it leaves the rotation unchanged. */
  def rebuild(spark: SparkSession, path: String, nCells: Int = -1,
      m: Int = -1, ks: Int = -1, pqIters: Int = 2, refineIters: Int = 1,
      md5Seeds: Boolean = false): Unit =
    rebuildWith(spark, path, nCells, refineIters, md5Seeds) { r =>
      // read only when a default asks for it; the live codebook stands
      // until the promote, and the meta has been checked by now
      lazy val stored = readModel(spark, path)
      Pq.train(r, "id", "rvec", if (m < 0) stored.m else m,
        if (ks < 0) stored.ks else ks, pqIters)
    }

  private[graft] def rebuildStored(spark: SparkSession, path: String): Unit =
    rebuild(spark, path)
}
