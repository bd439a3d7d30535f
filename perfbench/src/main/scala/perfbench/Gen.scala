package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. Every input the library sees is a frame or
  * element list built here from the run's seed; sizes depend only on
  * the arguments, never on the seed, so seeds vary values and keys but
  * not the amount of work. */
final class Gen(spark: SparkSession, seed: Long) {
  val rnd = new Random(seed)

  def nodes(n: Int): Seq[String] = (0 until n).map(i => f"n$i%04d")
  def techs(n: Int): Seq[String] = (0 until n).map(i => f"t$i%04d")
  val years: Seq[Int] = 2020 to 2100 by 10

  private val parSchema = StructType(Seq(StructField("i", StringType),
    StructField("j", StringType), StructField("value", DoubleType),
    StructField("unit", StringType)))

  /** `rows` distinct (i, j) keys drawn from the two index sets, with
    * seeded values: the small key-validated edit of one transaction. */
  def parEdit(is: Seq[String], js: Seq[String], rows: Int, unit: String): DataFrame = {
    val keys = mutable.LinkedHashSet.empty[(String, String)]
    while (keys.size < rows) keys += ((is(rnd.nextInt(is.size)), js(rnd.nextInt(js.size))))
    val data = keys.toSeq.map { case (i, j) =>
      Row(i, j, math.rint(rnd.nextDouble() * 1e6) / 100, unit) }
    spark.createDataFrame(java.util.Arrays.asList(data: _*), parSchema)
  }

  /** The full i × j grid with seeded values, generated inside Spark so
    * bulk sizes cost no driver memory. Values are whole numbers below
    * 1e6, so any sum of them is exact in double arithmetic whatever the
    * summation order. */
  def parGrid(nI: Int, nJ: Int, unit: String): DataFrame = {
    val s = rnd.nextLong()
    spark.range(nI.toLong * nJ)
      .select(format_string("n%04d", (col("id") / nJ).cast("int")).as("i"),
        format_string("t%04d", (col("id") % nJ).cast("int")).as("j"),
        floor(rand(s) * 1e6).cast("double").as("value"), lit(unit).as("unit"))
  }

  /** One value per element of a simple index set. */
  def par1(is: Seq[String], unit: String): DataFrame = {
    val rows = is.map(i => Row(i, math.rint(rnd.nextDouble() * 1e4) / 100, unit))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("i", StringType), StructField("value", DoubleType),
      StructField("unit", StringType))))
  }

  /** An IAMC time-series block in long form over the World region. */
  def tsBlock(variables: Int, unit: String): DataFrame = {
    val rows = for (v <- 0 until variables; y <- years) yield
      Row("World", f"Emissions|CO2|v$v%03d", unit, y, math.rint(rnd.nextDouble() * 1e5) / 100)
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("region", StringType), StructField("variable", StringType),
      StructField("unit", StringType), StructField("year", IntegerType),
      StructField("value", DoubleType))))
  }

  // ---- documents ------------------------------------------------------

  private val vocab: IndexedSeq[String] = {
    val r = new Random(seed ^ 0x5eed)
    (0 until 5000).map(_ => (0 until (3 + r.nextInt(6)))
      .map(_ => ('a' + r.nextInt(26)).toChar).mkString)
  }
  private def words(n: Int): IndexedSeq[String] =
    IndexedSeq.fill(n)(vocab(rnd.nextInt(vocab.size)))
  /** A near-duplicate: every `1/every`-th word replaced. */
  private def perturb(ws: IndexedSeq[String], every: Int): IndexedSeq[String] =
    ws.zipWithIndex.map { case (w, k) =>
      if (k % every == every / 2) vocab(rnd.nextInt(vocab.size)) else w }

  /** `n` fresh documents of `docWords` words. */
  def texts(n: Int, docWords: Int): IndexedSeq[IndexedSeq[String]] =
    IndexedSeq.fill(n)(words(docWords))

  /** A batch of `n` documents with ids from `firstId`: the first
    * `dups` are near-duplicates (one word in 20 replaced, so word
    * 3-gram Jaccard about 0.7, well above the 0.5 threshold) of
    * random `base` documents, the rest fresh text. Returns the frame
    * and the planted (base id, batch id) pairs; base ids are indexes
    * into `base`. */
  def docBatch(base: IndexedSeq[IndexedSeq[String]], n: Int, dups: Int,
      firstId: Long): (DataFrame, Set[(Long, Long)]) = {
    val words0 = base.head.size
    val of = IndexedSeq.fill(dups)(rnd.nextInt(base.size))
    val texts = of.map(b => perturb(base(b), 20)) ++ this.texts(n - dups, words0)
    (docs(firstId, texts), of.zipWithIndex.map { case (b, k) => (b.toLong, firstId + k) }.toSet)
  }

  def docs(firstId: Long, texts: Seq[IndexedSeq[String]]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(texts.zipWithIndex.map {
      case (ws, k) => Row(firstId + k, ws.mkString(" ")) }: _*),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))

  // ---- embeddings -----------------------------------------------------

  private val vecSchema = StructType(Seq(StructField("id", LongType),
    StructField("vec", ArrayType(FloatType))))

  /** `n` 64-d vectors around 32 seeded centres, ids from `firstId`. */
  def vectors(n: Int, firstId: Long): DataFrame = {
    val rows = (0 until n).map { k =>
      val c = centres(rnd.nextInt(centres.size))
      Row(firstId + k, c.map(x => (x + 0.35 * rnd.nextGaussian()).toFloat).toSeq)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), vecSchema)
  }
  private lazy val centres: IndexedSeq[Array[Double]] = {
    val r = new Random(seed ^ 0xce17)
    IndexedSeq.fill(32)(Array.fill(64)(r.nextGaussian()))
  }

  /** Query rows (qid, qvec) drawn from the same clusters, qids disjoint
    * from every corpus id. */
  def queries(n: Int, firstQid: Long): DataFrame =
    vectors(n, firstQid).toDF("qid", "qvec")
}
