package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Shared state of one benchmark run: the tracer, the end-to-end
  * samples, and the attempted/failed operation counts. */
final class Harness(val spark: SparkSession, val tracer: Tracer) {
  /** End-to-end samples by key; each remembers whether it was traced,
    * so the traced run can report its own overhead. */
  val samples = mutable.Map.empty[String, mutable.ArrayBuffer[(Double, Boolean)]]
  var attempted = 0L
  var failed = 0L
  /** Public calls made so far. */
  var calls = 0L
  private val problems = mutable.ArrayBuffer.empty[String]

  def record(key: String, v: Double): Unit =
    samples.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += ((v, tracer.enabled))

  def values(key: String, traced: Option[Boolean] = None): Seq[Double] =
    samples.getOrElse(key, Nil).collect {
      case (v, t) if traced.forall(_ == t) => v }.toSeq

  /** One public call of the program: counted, traced as span `name`,
    * and (when `key` is set) timed into the end-to-end samples. */
  def call[T](name: String, key: String = "")(f: => T): T = {
    attempted += 1
    calls += 1
    if (key.isEmpty) tracer.span(name)(f) else timed(key)(tracer.span(name)(f))
  }

  /** Runs `f` and records its wall time (ms) as sample `<key>_ms`. */
  def timed[T](key: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    record(s"${key}_ms", (System.nanoTime() - t0) / 1e6)
    r
  }

  /** An output check; a violation counts as one failed operation. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; problems += what; System.err.println(s"CHECK FAILED: $what") }
  }

  /** A call or iteration that threw: one failed operation. */
  def fail(what: String, e: Throwable): Unit = {
    failed += 1
    problems += s"$what: $e"
    System.err.println(s"FAILED: $what")
    e.printStackTrace(System.err)
  }

  def failures: Seq[String] = problems.toSeq
}

/** One benchmark workload: a set-up, then a closed loop of iterations. */
trait Workload {
  /** Build the starting state under `root`. */
  def setup(root: String): Unit
  /** One closed-loop iteration; `i` counts the warm-up iterations
    * first, then the timed ones. */
  def iteration(i: Int): Unit
  /** Checks of the final state, after the loop. */
  def verify(): Unit
  /** Live logical rows the workload's storage holds now. */
  def liveRows: Long
  /** Untimed iterations that end the set-up. */
  def warmIters: Int
  /** Timed iterations every run makes, however long they take, so that
    * every run measures the same work; the storage is measured after
    * them. */
  def minIters: Int
  /** A run's iteration count is a multiple of this. */
  def cycle: Int = 1
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 100]; NaN without samples
    * (a run whose every timed call failed). */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p / 100 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** The highest whole percentile with at least ten samples above it
    * (p50 when there are fewer than twenty samples), as (p, value). */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val p = math.max(50, math.min(99, math.floor(100.0 * (1 - 10.0 / xs.size)).toInt))
    (p, pct(xs, p))
  }
}

/** A fixed small Spark job that calls no code of the program: a sum
  * over a 4000-row range in one partition per core (two stages, one
  * shuffle). Its time tells how fast the host runs Spark work right
  * now. A shared host's speed drifts by up to 2x over minutes (busy
  * neighbours, CPU steal); the program's calls, mostly small Spark jobs
  * too, slow down with it, while plain single-thread code slows down
  * far less. */
final class Probe(spark: SparkSession) {
  private val parts = spark.sparkContext.defaultParallelism

  /** Runs the job once; returns its wall time in ms. */
  def run(): Double = {
    val t0 = System.nanoTime()
    val n = spark.range(0, 4000, 1, parts).selectExpr("sum(id)").head().getLong(0)
    require(n == 3999L * 4000 / 2, s"probe sum $n")
    (System.nanoTime() - t0) / 1e6
  }
}

object Probe {
  /** The probe's time (ms) at the reference speed that end-to-end times
    * are scaled to: about its warm median on an idle 4-core x86 cloud
    * VM. */
  val RefMs = 50.0
}
