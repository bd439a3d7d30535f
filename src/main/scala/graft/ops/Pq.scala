package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{GraftExprBridge => ExpressionUtils}

/** Product-quantization codebook (Jégou/Douze/Schmid 2011, TPAMI):
  * `m` subspaces of `dsub` dims, `ks` centroids per subspace, flat
  * row-major layout `centroids[(mm*ks + j)*dsub + d]`. A driver-local
  * value (m·ks·dsub doubles — 8·256·8 = 16 K for production settings)
  * shipped to executors as a codegen reference object. */
final case class PqCodebook(m: Int, ks: Int, dsub: Int,
    centroids: Array[Double]) {
  require(centroids.length == m * ks * dsub, "codebook layout mismatch")
  def dim: Int = m * dsub
}

/** Product quantization for embedding columns — the memory half of the
  * 100 TB ANN story: a 64-dim float vector (256 B) compresses to `m`
  * byte-sized codes (8 B, 32× smaller), so a billion-vector corpus
  * index fits in executor memory where raw vectors cannot. Queries
  * score compressed rows ASYMMETRICALLY (ADC): the query stays exact,
  * each candidate costs `m` table lookups instead of `dim` multiplies.
  *
  * All three hot loops (encode, LUT build, ADC score) are native
  * codegen'd expressions — map-side only, no shuffle anywhere in
  * encode or scoring; the only shuffle in [[Pq.adcKnn]] is the final
  * per-query top-k window, which moves (qid, id, score) triples.
  */
object Pq {

  /** Train a codebook on (a deterministic md5-hash-ordered sample
    * slice of) the corpus: per-subspace Lloyd iterations, all `m`
    * subproblems advanced in ONE distributed pass per iteration
    * (posexplode → (subspace, code, pos) partial-aggregated means —
    * only m·ks·dsub aggregate cells shuffle, never vectors). `iters=0`
    * keeps the seed centroids (sampled subvectors), which is exactly
    * reproducible by a SQL oracle. */
  def train(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, ks: Int = 16, iters: Int = 2,
      init: Option[PqCodebook] = None): PqCodebook = {
    val c = corpus.select(col(idCol).as("__id"),
      col(vecCol).cast("array<double>").as("__vec"))
    val firstRow = c.select(size(col("__vec"))).limit(1).collect()
    require(firstRow.nonEmpty, "pq train: corpus is empty")
    val first = firstRow.head.getInt(0)
    require(first % m == 0, s"dim $first not divisible by m=$m subspaces")
    val dsub = first / m

    // warm start (the OPQ alternation hands back the previous round's
    // codebook so Lloyd refines instead of reseeding — reseeding would
    // break the alternation's monotone descent) or engine-reproducible
    // seeding: hex-md5 string order (same collation everywhere), ties
    // by id
    var cb = init match {
      case Some(cb0) =>
        require(cb0.m == m && cb0.ks == ks && cb0.dsub == dsub,
          "init codebook shape mismatch")
        cb0
      case None =>
        val seedRows = c.orderBy(md5(col("__id").cast("string").cast("binary")),
            col("__id")).limit(ks)
          .select(col("__vec")).collect()
        require(seedRows.length == ks, s"corpus smaller than ks=$ks")
        val flat = new Array[Double](m * ks * dsub)
        var j = 0
        while (j < ks) {
          val v = seedRows(j).getSeq[Double](0)
          var mm = 0
          while (mm < m) {
            var d = 0
            while (d < dsub) {
              flat((mm * ks + j) * dsub + d) = v(mm * dsub + d)
              d += 1
            }
            mm += 1
          }
          j += 1
        }
        PqCodebook(m, ks, dsub, flat)
    }
    if (iters <= 0) return cb

    val cached = c.persist()
    try {
      for (_ <- 1 to iters) {
        // one pass: encode under current cb, then per-(subspace, code,
        // within-subspace pos) mean. Empty cells keep their centroid.
        val means = cached
          .withColumn("__codes", encodeCol(col("__vec"), cb))
          .select(posexplode(col("__vec")).as(Seq("pos", "x")), col("__codes"))
          .withColumn("mm", (col("pos") / dsub).cast("int"))
          .withColumn("code", element_at(col("__codes"), col("mm") + 1))
          .withColumn("d", col("pos") % dsub)
          .groupBy("mm", "code", "d").agg(avg("x").as("x"))
          .collect()
        val next = cb.centroids.clone()
        means.foreach { r =>
          next((r.getInt(0) * ks + r.getInt(1)) * dsub + r.getInt(2)) = r.getDouble(3)
        }
        cb = PqCodebook(m, ks, dsub, next)
      }
    } finally { cached.unpersist(blocking = false); () }
    cb
  }

  /** Column of per-subspace code ids (array<int>, length m) for a
    * vector column. `normalize=true` scales the vector to unit L2 norm
    * first (encode and query must agree), making ADC scores approximate
    * cosine rather than raw dot. */
  def encodeCol(vec: Column, cb: PqCodebook, normalize: Boolean = false): Column =
    ExpressionUtils.column(PqEncodeExpr(
      ExpressionUtils.expression(vec.cast("array<double>")), cb, normalize))

  /** Per-query ADC lookup table (array<double>, length m·ks):
    * `lut[mm·ks + j] = <q_sub(mm), centroid(mm, j)>`. */
  def lutCol(qvec: Column, cb: PqCodebook, normalize: Boolean = false): Column =
    ExpressionUtils.column(PqLutExpr(
      ExpressionUtils.expression(qvec.cast("array<double>")), cb, normalize))

  /** ADC score: sum of m LUT lookups — the compressed-domain
    * approximation of the (cosine/dot) similarity. */
  def adcCol(codes: Column, lut: Column, ks: Int): Column =
    ExpressionUtils.column(PqAdcExpr(
      ExpressionUtils.expression(codes), ExpressionUtils.expression(lut), ks))

  /** Deterministic decorrelating rotation — the cheap member of the
    * OPQ family. Product quantization quantizes each `dsub`-dim slice
    * independently, so correlated/unbalanced input dimensions waste
    * codebook capacity; a random orthogonal transform spreads energy
    * across subspaces (Jégou et al. 2011 use a random rotation
    * baseline; full OPQ learns the rotation). This one is a signed
    * permutation — multiply by (±1 diagonal)·(permutation matrix) —
    * which is exactly orthogonal, costs d moves instead of a d×d
    * matmul per vector, and is engine-reproducible: slot j of the
    * output is `sign(j) · v[perm(j)]` with `perm` = dimensions in
    * md5-hex order and `sign(j)` an md5 coin, so a SQL oracle
    * re-derives the identical transform. */
  // memoized per dimension (review r11): SignedPermuteExpr is a case
  // class over arrays, and Array equality is by REFERENCE — fresh
  // allocations per rotation(d) call would make two logically identical
  // rotateCol plans never semanticEquals/sameResult, silently missing
  // InMemoryRelation cache matches and cross-plan subexpression
  // elimination. One shared instance per d (the arrays are never
  // mutated) restores value-like plan equality for free.
  private val rotCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Int], Array[Double])]()

  def rotation(d: Int): (Array[Int], Array[Double]) =
    rotCache.computeIfAbsent(d, d => {
      def md5hex(s: String): String =
        java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val perm = (0 until d).sortBy(i => (md5hex(i.toString), i)).toArray
      val signs = Array.tabulate(d)(j =>
        if (md5hex("s" + j).charAt(0) <= '7') -1.0 else 1.0)
      (perm, signs)
    })

  /** Apply [[rotation]] to a vector column: one native codegen'd
    * [[SignedPermuteExpr]] (±1 multiplies are IEEE-exact, so rotated
    * vectors stay bit-reproducible cross-engine). Previously a
    * d-element `array(element_at…)` projection — semantically
    * identical, but its ~3·d-node tree re-paid ~1 s of Catalyst
    * analysis on every referencing query (r11 bisect). */
  def rotateCol(vec: Column, d: Int): Column = {
    val (perm, signs) = rotation(d)
    ExpressionUtils.column(SignedPermuteExpr(
      ExpressionUtils.expression(vec.cast("array<double>")), perm, signs))
  }

  /** Apply a dense d×d orthogonal matrix (row-major) to a vector
    * column — the learned-OPQ analogue of [[rotateCol]]: one native
    * codegen'd mat-vec per row (d² multiplies), map-side only. */
  def matVecCol(vec: Column, mat: Array[Double], d: Int): Column =
    ExpressionUtils.column(MatVecExpr(
      ExpressionUtils.expression(vec.cast("array<double>")), mat, d))

  /** Per-row PQ reconstruction error ||x − decode(encode(x))||² — the
    * OPQ objective. Free inside the encode scan: each subspace's
    * argmin distance IS that subspace's squared error, so the total is
    * their sum (no decode round-trip). */
  def reconErrCol(vec: Column, cb: PqCodebook): Column =
    ExpressionUtils.column(PqReconErrExpr(
      ExpressionUtils.expression(vec.cast("array<double>")), cb))

  /** Mean PQ reconstruction error of a corpus under a rotation — the
    * number OPQ minimizes; [[PqSpec]] grades learned vs fixed rotation
    * with it. */
  def reconstructionMse(corpus: DataFrame, vecCol: String, cb: PqCodebook,
      rot: Column => Column): Double =
    corpus.select(avg(reconErrCol(rot(col(vecCol)), cb)).as("mse"))
      .head().getDouble(0)

  /** Learned OPQ (Ge et al. 2013, "Optimized Product Quantization",
    * CVPR — the non-parametric solution): alternate (a) Lloyd codebook
    * refinement on the rotated data with (b) the orthogonal Procrustes
    * rotation update — R ← V·Uᵀ from the SVD U·S·Vᵀ of the
    * data/reconstruction correlation M = Σ x·x̂ᵀ. Each half-step is
    * the exact minimizer of Σ‖R·x − x̂‖² with the other half fixed, so
    * the objective descends monotonically from the [[rotation]]
    * baseline (R₀ = the fixed signed permutation, codebooks
    * warm-started across rounds).
    *
    * 100 TB shape: the per-round costs are one [[train]] pass (only
    * m·ks·dsub aggregate cells shuffle) plus one corpus map-pass that
    * accumulates a d×d matrix per PARTITION (d² doubles each — 32 KB
    * at d=64 — reduced on the driver); the SVD is a driver-local d×d
    * problem. Train on a corpus sample at scale, exactly as k-means
    * seeding already does; nothing here is super-linear in rows.
    *
    * Returns (codebook, R row-major): encode with
    * `encodeCol(matVecCol(vec, R, d), cb)`; queries must apply the
    * same R before building their LUT. */
  def trainOpq(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, ks: Int = 16, iters: Int = 2, opqIters: Int = 3)
      : (PqCodebook, Array[Double]) = {
    val c = corpus.select(col(idCol).as("__id"),
      col(vecCol).cast("array<double>").as("__vec"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val d = c.select(size(col("__vec"))).head().getInt(0)
      require(d % m == 0, s"dim $d not divisible by m=$m subspaces")
      // R0 = the deterministic signed permutation (e08's baseline) as a
      // dense matrix: row j of R has sign(j) at column perm(j)
      val (perm, signs) = rotation(d)
      var r = new Array[Double](d * d)
      var j = 0
      while (j < d) { r(j * d + perm(j)) = signs(j); j += 1 }
      var cb: PqCodebook = null
      var round = 0
      while (round < opqIters) {
        val rotated = c.select(col("__id"),
          matVecCol(col("__vec"), r, d).as("__vec"))
        cb = train(rotated, "__id", "__vec", m, ks, iters,
          init = Option(cb))
        if (round < opqIters - 1) { // last round keeps codebook+R in sync
          val cbL = cb
          val rL = r
          // M = Σ x·x̂ᵀ accumulated per partition (x original, x̂ the
          // reconstruction of R·x) — one narrow array per partition,
          // never a per-row explosion. Partition results are folded in
          // PARTITION-INDEX order, not reduce()'s arrival order: float
          // addition is non-associative, so an order-dependent fold
          // would make the learned R (and every index built under it)
          // non-bit-reproducible across runs (ADVICE r6). The fold runs
          // in ONE executor task over a sorted single-partition shuffle
          // of the partials, so residency is one accumulator — a
          // driver-side collect would hold all P partials at once
          // (P·8·d² bytes — gigabytes at d=512 with thousands of
          // partitions).
          val parts = c.select(col("__vec")).rdd.mapPartitionsWithIndex { (pi, it) =>
            val acc = new Array[Double](d * d)
            val rx = new Array[Double](d)
            it.foreach { row =>
              val x = row.getSeq[Double](0)
              var i = 0
              while (i < d) {
                var s = 0.0
                var k = 0
                while (k < d) { s += rL(i * d + k) * x(k); k += 1 }
                rx(i) = s
                i += 1
              }
              val xhat = PqReconErrExpr.decodeOf(rx, cbL)
              i = 0
              while (i < d) {
                val xi = x(i)
                var k = 0
                while (k < d) { acc(i * d + k) += xi * xhat(k); k += 1 }
                i += 1
              }
            }
            Iterator.single((pi, acc))
          }
          val mArr = parts
            .sortBy(_._1, ascending = true, numPartitions = 1)
            .mapPartitions { it =>
              val acc = new Array[Double](d * d)
              it.foreach { case (_, a) =>
                var i = 0
                while (i < d * d) { acc(i) += a(i); i += 1 }
              }
              Iterator.single(acc)
            }.collect().head
          val bm = breeze.linalg.DenseMatrix.tabulate(d, d)(
            (i, k) => mArr(i * d + k))
          val svdR = breeze.linalg.svd(bm)
          val rNew = svdR.Vt.t * svdR.U.t // argmax tr(R·M) over orthogonal R
          val flat = new Array[Double](d * d)
          var i = 0
          while (i < d) {
            var k = 0
            while (k < d) { flat(i * d + k) = rNew(i, k); k += 1 }
            i += 1
          }
          r = flat
        }
        round += 1
      }
      (cb, r)
    } finally { c.unpersist(blocking = false); () }
  }

  /** Persist a trained OPQ model (codebook + learned rotation) as
    * parquet — build-once/query-many, same crash-safe meta-last layout
    * as `IvfIndex.save`: training is iterative Lloyd + SVD work that
    * must never rerun per query batch at scale. */
  def saveOpq(path: String, cb: PqCodebook, r: Array[Double],
      spark: org.apache.spark.sql.SparkSession): Unit = {
    // validate BEFORE any write: a late require left orphaned partial
    // artifacts on disk (crash-safe — exists() stays false — but the
    // writes were wasted and the garbage persisted; ADVICE r6)
    require(r.length == cb.dim * cb.dim, "rotation shape mismatch")
    import spark.implicits._
    // re-save safety (review r9): drop the old marker before touching
    // the tables, or a crash mid-overwrite leaves stale meta standing
    MetaSwap.invalidate(spark, s"$path/meta")
    Seq((cb.m, cb.ks, cb.dsub, cb.centroids.toSeq))
      .toDF("m", "ks", "dsub", "centroids")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebook")
    Seq((cb.dim, r.toSeq)).toDF("d", "mat")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/rotation")
    // meta marker last: a crash mid-save leaves exists() false
    Seq(1).toDF("v").coalesce(1).write.mode("overwrite")
      .parquet(s"$path/meta")
  }

  /** True when `path` holds a COMPLETE saved OPQ model (_SUCCESS when
    * markers are on, committed part-files when they are disabled —
    * see IvfIndex.exists). */
  def opqExists(spark: org.apache.spark.sql.SparkSession,
      path: String): Boolean =
    Similarity.committedParquetExists(spark, s"$path/meta")

  /** Reload a [[saveOpq]]d model bit-identically (both artifacts are
    * driver-local values; nothing distributed is materialized). */
  def loadOpq(spark: org.apache.spark.sql.SparkSession,
      path: String): (PqCodebook, Array[Double]) = {
    // direct driver-side artifact reads (MetaIo, r19 — zero jobs; both
    // are single-row kilobyte tables)
    val cbRow = MetaIo.readHead(spark, s"$path/codebook")
    val cb = PqCodebook(cbRow.getInt(0), cbRow.getInt(1), cbRow.getInt(2),
      cbRow.getSeq[Double](3).toArray)
    val rRow = MetaIo.readHead(spark, s"$path/rotation")
    val r = rRow.getSeq[Double](1).toArray
    require(r.length == cb.dim * cb.dim, "rotation shape mismatch")
    (cb, r)
  }

  /** Stable fingerprint of a rotation matrix — the cache-key component
    * that pins an IVF-PQ index to the OPQ rotation its corpus was
    * encoded under (the e10 rule: fold this into the index path so
    * retraining just the OPQ model can never leave a surviving index
    * silently queried under a mismatched rotation). */
  def rotationHash(r: Array[Double]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val bb = java.nio.ByteBuffer.allocate(8 * r.length)
    r.foreach(bb.putDouble)
    md.digest(bb.array()).take(6).map("%02x".format(_)).mkString
  }

  /** Fold a delta into an IVF-PQ index built over an OPQ-rotated
    * corpus — the incremental append for the full FAISS
    * "OPQ_M,IVFx,PQM" composition, the one index family the r14
    * append work left out: rotate the delta with the FROZEN rotation
    * from the saved OPQ model, then [[IvfPq.append]] (frozen
    * centroids + codebook encode the rotated delta; meta-commit-last,
    * tag idempotence, orphan-shard pruning all inherited — the FAISS
    * add-vs-train split extended one level up, to the rotation).
    *
    * The index at `indexPath` must have been BUILT over
    * `matVecCol(corpus, R)` for the same R. ENFORCED, not convention
    * (VERDICT r15 #2): the index meta carries [[rotationHash]] of its
    * build rotation (`IvfPqIndex.save(path, rot = ...)`), and the
    * append passes the LOADED model's hash as its rotation claim —
    * `IvfPq.append` refuses a mismatch loudly, naming both hashes, so
    * retraining the OPQ model in place can never silently mix
    * rotations in one codes table. An index saved WITHOUT the pin
    * (legacy) adopts this append's hash as its pin. Queries stay
    * caller-composed: rotate with the same R before `query`
    * ([[checkRotation]] guards that path the same way; exact rerank is
    * rotation-invariant, so ranks remain comparable to unrotated
    * exact search). */
  def appendOpq(delta: DataFrame, idCol: String, vecCol: String,
      opqPath: String, indexPath: String, tag: String = ""): Unit = {
    val spark = delta.sparkSession
    require(opqExists(spark, opqPath),
      s"opq model at '$opqPath' is missing or incomplete " +
        "(saveOpq writes its meta marker last)")
    val (cb, r) = loadOpq(spark, opqPath)
    IvfPq.append(delta.select(col(idCol).as("id"),
      matVecCol(col(vecCol), r, cb.dim).as("vec")), indexPath, tag,
      rot = rotationHash(r))
  }

  /** Guard for the caller-composed rotated QUERY path: require that a
    * pinned index's rotation matches the model the caller is about to
    * rotate queries with. Loud on mismatch (both hashes named); a
    * legacy unpinned index passes — it has nothing to check against
    * until its first [[appendOpq]] pins it. */
  def checkRotation(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, r: Array[Double]): Unit = {
    val pin = IvfPq.rotationPin(spark, indexPath)
    val claim = rotationHash(r)
    require(pin.isEmpty || pin == claim,
      s"ivfpq index at '$indexPath' is pinned to OPQ rotation '$pin' " +
        s"but the query rotation hashes to '$claim' - probing with a " +
        "mismatched rotation returns garbage neighbors with no error; " +
        "load the model the index was built under, or rebuild")
  }

  /** Encode a corpus: adds a `codes` column (keep it, drop the vector,
    * and the stored index is m bytes-of-int per row). */
  def encode(df: DataFrame, vecCol: String, cb: PqCodebook,
      normalize: Boolean = false): DataFrame =
    df.withColumn("codes", encodeCol(col(vecCol), cb, normalize))

  /** Approximate top-k by ADC over an encoded corpus. Queries build
    * their LUT once (one row each), broadcast, and every candidate
    * costs m lookups; per-query top-k is the only shuffle. Set
    * `rerank` > k to fetch that many ADC candidates — callers holding
    * the raw vectors can exact-rescore the short list (the standard
    * IVFADC refinement step). */
  def adcKnn(encoded: DataFrame, queries: DataFrame, cb: PqCodebook, k: Int,
      normalize: Boolean = true): DataFrame = {
    val q = queries.select(col("qid"),
      lutCol(col("qvec"), cb, normalize).as("__lut"))
    val scored = encoded.select(col("id"), col("codes"))
      .crossJoin(broadcast(q))
      .filter(col("id") =!= col("qid"))
      .withColumn("score", adcCol(col("codes"), col("__lut"), cb.ks))
      .select(col("qid"), col("id"), col("score"))
    Similarity.topKByKey(scored, "qid", "id", "score", metricDesc = true, k)
      .select(col("qid"), col("rank"), col("id"), round(col("score"), 4).as("score"))
  }

  /** ADC shortlist + exact cosine rerank (the standard IVFADC
    * refinement, Jégou et al. §V): fetch `fetch` candidates per query
    * in the compressed domain, then rescore ONLY those against the raw
    * vectors. The shortlist (|queries|·fetch id pairs) broadcasts, so
    * the rescore is one map-side corpus pass — quantization error then
    * costs recall only when a true neighbor falls outside the
    * shortlist, not whenever it is mis-RANKED inside it. */
  def adcKnnRerank(encoded: DataFrame, corpus: DataFrame, queries: DataFrame,
      cb: PqCodebook, k: Int, fetch: Int = 0): DataFrame = {
    val f = if (fetch > 0) fetch else math.max(4 * k, 20)
    val shortlist = adcKnn(encoded, queries, cb, f).select(col("qid"), col("id"))
    val c = corpus.select(col("id"), col("vec").cast("array<double>").as("vec"))
      .withColumn("nrm", Similarity.norm(col("vec")))
    val q = queries.select(col("qid"),
        col("qvec").cast("array<double>").as("qvec"))
      .withColumn("qnrm", Similarity.norm(col("qvec")))
    val scored = c.join(broadcast(shortlist), "id")
      .join(broadcast(q), "qid")
      // the shared zero-norm guard (review r12): the raw division gave
      // a zero-norm vector sim = NaN, which sorts ABOVE every real
      // double — one failed-embedder row in the shortlist outranked
      // every true neighbor (the exact bug r11 fixed on the other kNN
      // paths; this rerank division was missed)
      .withColumn("sim", Similarity.cosineSim(
        Similarity.dot(col("vec"), col("qvec")), col("nrm"), col("qnrm")))
      .filter(col("sim").isNotNull) // zero-norm rows have no cosine rank
      .select(col("qid"), col("id"), col("sim"))
    Similarity.topKByKey(scored, "qid", "id", "sim", metricDesc = true, k)
      .select(col("qid"), col("rank"), col("id"), round(col("sim"), 4).as("sim"))
  }
}

/** argmin-L2 sub-codes for one vector: m sequential scans over ks
  * centroids — ties break to the smallest code id, and every float op
  * is sequential in index order so a SQL oracle reproduces codes
  * bit-for-bit. */
final case class PqEncodeExpr(child: Expression, cb: PqCodebook,
    normalize: Boolean) extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(PqEncodeExpr.compute(
      input.asInstanceOf[ArrayData], cb, normalize))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqcb", cb, classOf[PqCodebook].getName)
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.ops.PqEncodeExpr.compute($c, $ref, $normalize))")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncodeExpr =
    copy(child = newChild)
}

object PqEncodeExpr {
  private[ops] def toArr(a: ArrayData, normalize: Boolean): Array[Double] = {
    val n = a.numElements()
    val v = new Array[Double](n)
    var i = 0
    while (i < n) {
      // loud on a null ELEMENT (review r12, the SignedPermuteExpr
      // rule): getDouble silently unboxes null to 0.0 — a corrupt
      // embedding slot would encode/score as a plausible value
      require(!a.isNullAt(i), s"pq: null vector element at index $i")
      v(i) = a.getDouble(i); i += 1
    }
    if (normalize) {
      var ss = 0.0
      i = 0
      while (i < n) { ss += v(i) * v(i); i += 1 }
      if (ss > 0.0) {
        val inv = 1.0 / math.sqrt(ss)
        i = 0
        while (i < n) { v(i) *= inv; i += 1 }
      }
    }
    v
  }

  def compute(a: ArrayData, cb: PqCodebook, normalize: Boolean): Array[Int] = {
    val v = toArr(a, normalize)
    require(v.length == cb.dim,
      s"pq_encode: vector dim ${v.length} != codebook dim ${cb.dim}")
    val codes = new Array[Int](cb.m)
    val cent = cb.centroids
    var mm = 0
    while (mm < cb.m) {
      val off = mm * cb.dsub
      var best = 0
      var bestD = Double.MaxValue
      var j = 0
      while (j < cb.ks) {
        val coff = (mm * cb.ks + j) * cb.dsub
        var dist = 0.0
        var d = 0
        while (d < cb.dsub) {
          val diff = v(off + d) - cent(coff + d)
          dist += diff * diff
          d += 1
        }
        if (dist < bestD) { bestD = dist; best = j }
        j += 1
      }
      codes(mm) = best
      mm += 1
    }
    codes
  }
}

/** Per-query ADC lookup table: inner products of each query subvector
  * with every centroid of its subspace. */
final case class PqLutExpr(child: Expression, cb: PqCodebook,
    normalize: Boolean) extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pq_lut"
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(PqLutExpr.compute(
      input.asInstanceOf[ArrayData], cb, normalize))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqcb", cb, classOf[PqCodebook].getName)
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.ops.PqLutExpr.compute($c, $ref, $normalize))")
  }

  override protected def withNewChildInternal(newChild: Expression): PqLutExpr =
    copy(child = newChild)
}

object PqLutExpr {
  def compute(a: ArrayData, cb: PqCodebook, normalize: Boolean): Array[Double] = {
    val q = PqEncodeExpr.toArr(a, normalize)
    require(q.length == cb.dim,
      s"pq_lut: query dim ${q.length} != codebook dim ${cb.dim}")
    val lut = new Array[Double](cb.m * cb.ks)
    val cent = cb.centroids
    var mm = 0
    while (mm < cb.m) {
      val off = mm * cb.dsub
      var j = 0
      while (j < cb.ks) {
        val coff = (mm * cb.ks + j) * cb.dsub
        var s = 0.0
        var d = 0
        while (d < cb.dsub) { s += q(off + d) * cent(coff + d); d += 1 }
        lut(mm * cb.ks + j) = s
        j += 1
      }
      mm += 1
    }
    lut
  }
}

/** Compressed-domain score: m LUT lookups. */
final case class PqAdcExpr(left: Expression, right: Expression, ks: Int)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc"
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(codes: Any, lut: Any): Any =
    PqAdcExpr.compute(codes.asInstanceOf[ArrayData], lut.asInstanceOf[ArrayData], ks)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, l) => s"graft.ops.PqAdcExpr.compute($c, $l, $ks)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): PqAdcExpr = copy(left = newLeft, right = newRight)
}

object PqAdcExpr {
  def compute(codes: ArrayData, lut: ArrayData, ks: Int): Double = {
    val m = codes.numElements()
    // a ks mismatched with the LUT's codebook would index past the
    // array — UnsafeArrayData does NOT bounds-check, so the misread
    // would return garbage scores silently (review r12)
    require(lut.numElements() == m * ks,
      s"pq_adc: lut length ${lut.numElements()} != m*ks = ${m * ks}")
    var s = 0.0
    var mm = 0
    while (mm < m) { s += lut.getDouble(mm * ks + codes.getInt(mm)); mm += 1 }
    s
  }
}

/** Dense row-major d×d matrix × vector — the learned-OPQ rotation
  * apply. The matrix ships to executors as a codegen reference object
  * (d² doubles — 32 KB at d=64), like [[PqCodebook]]. Row sums are
  * sequential in index order, so results are deterministic for a given
  * matrix. */
final case class MatVecExpr(child: Expression, mat: Array[Double], d: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "mat_vec"
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(MatVecExpr.compute(
        input.asInstanceOf[ArrayData], mat, d))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("opqmat", mat, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.catalyst.expressions.UnsafeArrayData" +
        s".fromPrimitiveArray(graft.ops.MatVecExpr.compute($c, $ref, $d))")
  }

  override protected def withNewChildInternal(newChild: Expression): MatVecExpr =
    copy(child = newChild)
}

/** Signed permutation × vector — the fixed OPQ-lite rotation apply:
  * out(j) = v(perm(j)) · signs(j). Bit-identical to the composed
  * `array(element_at(v, perm(j)+1) * lit(signs(j)), …)` form it
  * replaces (same multiply, no additions — the ±0.0 corner that a
  * dense [[MatVecExpr]] with a permutation matrix would NOT preserve),
  * but one compact expression node instead of ~3·d: the wide form's
  * ~192-node tree cost ~1 s of Catalyst analysis/optimization on
  * EVERY query that referenced the rotated column (bisected r11 —
  * recurring per plan, so it never amortized; e08 sat at 3× its e04
  * twin two rounds running). */
final case class SignedPermuteExpr(child: Expression, perm: Array[Int],
    signs: Array[Double]) extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "signed_permute"
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(SignedPermuteExpr.compute(
        input.asInstanceOf[ArrayData], perm, signs))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val p = ctx.addReferenceObj("sperm", perm, "int[]")
    val sg = ctx.addReferenceObj("ssigns", signs, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.catalyst.expressions.UnsafeArrayData" +
        s".fromPrimitiveArray(graft.ops.SignedPermuteExpr.compute($c, $p, $sg))")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : SignedPermuteExpr = copy(child = newChild)
}

object SignedPermuteExpr {
  def compute(a: ArrayData, perm: Array[Int],
      signs: Array[Double]): Array[Double] = {
    val d = perm.length
    require(a.numElements() == d,
      s"signed_permute: vector dim ${a.numElements()} != $d")
    val out = new Array[Double](d)
    var j = 0
    while (j < d) {
      // loud on a null ELEMENT (review r11): ArrayData.getDouble would
      // silently unbox it to 0.0 under our containsNull=false output
      // type — a corrupt embedding rotated into a plausible vector.
      // The composed element_at form propagated element nulls; a
      // native expression must not downgrade that to silence.
      require(!a.isNullAt(perm(j)),
        s"signed_permute: null vector element at index ${perm(j)}")
      out(j) = a.getDouble(perm(j)) * signs(j)
      j += 1
    }
    out
  }
}

object MatVecExpr {
  def compute(a: ArrayData, mat: Array[Double], d: Int): Array[Double] = {
    require(a.numElements() == d,
      s"mat_vec: vector dim ${a.numElements()} != matrix dim $d")
    // copy once (review r12): the row-sum loop read a.getDouble(k) d
    // times per output slot — d² virtual ArrayData calls per row; a
    // local array is d calls + primitive reads, bit-identical sums.
    // The copy also hosts the loud null-element guard (getDouble
    // silently unboxes null to 0.0).
    val v = new Array[Double](d)
    var k = 0
    while (k < d) {
      require(!a.isNullAt(k), s"mat_vec: null vector element at index $k")
      v(k) = a.getDouble(k); k += 1
    }
    val out = new Array[Double](d)
    var i = 0
    while (i < d) {
      var s = 0.0
      k = 0
      while (k < d) { s += mat(i * d + k) * v(k); k += 1 }
      out(i) = s
      i += 1
    }
    out
  }
}

/** ‖x − decode(encode(x))‖² in one scan: the per-subspace argmin
  * distance PQ encode already computes IS that subspace's squared
  * reconstruction error, so the row's error is their sum. */
final case class PqReconErrExpr(child: Expression, cb: PqCodebook)
    extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_recon_err"
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any =
    PqReconErrExpr.compute(input.asInstanceOf[ArrayData], cb)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqcb", cb, classOf[PqCodebook].getName)
    defineCodeGen(ctx, ev, c => s"graft.ops.PqReconErrExpr.compute($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): PqReconErrExpr =
    copy(child = newChild)
}

object PqReconErrExpr {
  def compute(a: ArrayData, cb: PqCodebook): Double = {
    val v = PqEncodeExpr.toArr(a, normalize = false)
    require(v.length == cb.dim,
      s"pq_recon_err: vector dim ${v.length} != codebook dim ${cb.dim}")
    val cent = cb.centroids
    var err = 0.0
    var mm = 0
    while (mm < cb.m) {
      val off = mm * cb.dsub
      var bestD = Double.MaxValue
      var j = 0
      while (j < cb.ks) {
        val coff = (mm * cb.ks + j) * cb.dsub
        var s = 0.0
        var d = 0
        while (d < cb.dsub) {
          val diff = v(off + d) - cent(coff + d)
          s += diff * diff
          d += 1
        }
        if (s < bestD) bestD = s
        j += 1
      }
      err += bestD
      mm += 1
    }
    err
  }

  /** Driver/executor-local decode: concatenated nearest centroids —
    * the x̂ the OPQ Procrustes step correlates against. */
  def decodeOf(v: Array[Double], cb: PqCodebook): Array[Double] = {
    val codes = PqEncodeExpr.compute(
      new GenericArrayData(v), cb, normalize = false)
    val out = new Array[Double](cb.dim)
    var mm = 0
    while (mm < cb.m) {
      val coff = (mm * cb.ks + codes(mm)) * cb.dsub
      var d = 0
      while (d < cb.dsub) {
        out(mm * cb.dsub + d) = cb.centroids(coff + d)
        d += 1
      }
      mm += 1
    }
    out
  }
}
