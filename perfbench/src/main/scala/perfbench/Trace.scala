package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded call: wall interval, parent span, loop iteration, and
  * the store I/O (Hadoop local-filesystem byte counters) it caused.
  * Spark work is attached afterwards from [[JobLog]], keyed by `id`. */
final case class Span(id: Long, name: String, parent: Long, iter: Int,
    startMs: Long, endMs: Long, durNs: Long, readBytes: Long, writeBytes: Long)

/** Spark work seen by the listener, tagged with the span that was open
  * on the submitting thread (a local property, so threads the library
  * spawns for overlapped writes inherit it). */
final class JobLog extends SparkListener {
  final case class Job(span: Long, startMs: Long, var endMs: Long)
  final case class Stage(span: Long, tasks: Int, runMs: Long,
      shuffleBytes: Long, spillBytes: Long)
  private val jobMap = mutable.Map.empty[Int, Job]
  private val stageBuf = mutable.ArrayBuffer.empty[Stage]
  private val stageSpan = mutable.Map.empty[Int, Long]
  @volatile private var lastEventMs = System.currentTimeMillis()

  private def spanOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(JobLog.Key))).fold(-1L)(_.toLong)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobMap(e.jobId) = Job(spanOf(e.properties), e.time, e.time)
    lastEventMs = System.currentTimeMillis()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobMap.get(e.jobId).foreach(_.endMs = e.time)
    lastEventMs = System.currentTimeMillis()
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSpan(e.stageInfo.stageId) = spanOf(e.properties)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    stageBuf += Stage(stageSpan.getOrElse(i.stageId, -1L), i.numTasks,
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled)
    lastEventMs = System.currentTimeMillis()
  }

  def jobs: Seq[Job] = synchronized(jobMap.values.toSeq)
  def stages: Seq[Stage] = synchronized(stageBuf.toSeq)

  /** The listener bus is asynchronous: wait until it has been quiet
    * for a while, so every job of the traced calls has been seen. */
  def drain(quietMs: Long = 300, maxMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    while (System.currentTimeMillis() - lastEventMs < quietMs &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
  }
}

object JobLog { val Key = "perfbench.span" }

/** Local-filesystem byte counters: every parquet read and write of the
  * store and the index files goes through Hadoop's "file" scheme
  * (shuffle and spill files do not). */
object FsBytes {
  private def stat(key: String): Long = {
    val s = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file")
    if (s == null) 0L else Option(s.getLong(key)).fold(0L)(_.longValue)
  }
  def read: Long = stat("bytesRead")
  def written: Long = stat("bytesWritten")
}

/** Span recorder. Off: `span` is a plain call. On: each call is timed,
  * tagged for the listener, and kept in memory until [[dump]]. */
final class Tracer(sc: SparkContext) {
  var enabled = false
  var iter = 0
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  private var current = -1L

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId; nextId += 1
      val parent = current
      current = id
      sc.setLocalProperty(JobLog.Key, id.toString)
      val r0 = FsBytes.read; val w0 = FsBytes.written
      val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      try f
      finally {
        val n1 = System.nanoTime(); val t1 = System.currentTimeMillis()
        spans += Span(id, name, parent, iter, t0, t1, n1 - n0,
          FsBytes.read - r0, FsBytes.written - w0)
        current = parent
        sc.setLocalProperty(JobLog.Key, if (parent < 0) null else parent.toString)
      }
    }

  /** Write every span with its listener counts as JSON lines. */
  def dump(path: String, log: JobLog): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val js = log.jobs.filter(_.span == s.id)
      val st = log.stages.filter(_.span == s.id)
      w.println(Json.obj(Seq(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "iter" -> s.iter,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_ms" -> s.durNs / 1e6,
        "jobs" -> js.size, "tasks" -> st.map(_.tasks).sum,
        "shuffle_bytes" -> st.map(_.shuffleBytes).sum,
        "read_bytes" -> s.readBytes, "write_bytes" -> s.writeBytes)))
    } finally w.close()
  }
}

/** Minimal JSON writer for flat objects (numbers, strings, booleans,
  * nested objects as Seq of pairs). */
object Json {
  def value(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case kv: Seq[_] if kv.forall(_.isInstanceOf[(_, _)]) =>
      obj(kv.asInstanceOf[Seq[(String, Any)]])
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case null => "null"
    case other => value(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** Per-layer table from the traced spans: per-call means of each
  * named span, plus the store and engine-wide figures. */
object Layers {
  final case class Row(name: String, calls: Int, ms: Double, selfMs: Double,
      jobs: Double, tasks: Double, driverMs: Double, shuffleBytes: Double)

  /** Union length of [a, b) intervals, clipped to [lo, hi). */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L; var end = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  def rows(spans: Seq[Span], log: JobLog): Seq[Row] = {
    val kids = spans.groupBy(_.parent)
    def subtree(id: Long): Seq[Long] = id +: kids.getOrElse(id, Nil).flatMap(k => subtree(k.id))
    val jobsBySpan = log.jobs.groupBy(_.span)
    val stagesBySpan = log.stages.groupBy(_.span)
    spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      val per = ss.map { s =>
        val ids = subtree(s.id)
        val js = ids.flatMap(i => jobsBySpan.getOrElse(i, Nil))
        val st = ids.flatMap(i => stagesBySpan.getOrElse(i, Nil))
        val childMs = covered(kids.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs)),
          s.startMs, s.endMs)
        val jobMs = covered(js.map(j => (j.startMs, j.endMs)), s.startMs, s.endMs)
        val ms = s.durNs / 1e6
        (ms, ms - childMs, js.size.toDouble, st.map(_.tasks).sum.toDouble,
          math.max(0.0, ms - jobMs), st.map(_.shuffleBytes).sum.toDouble)
      }
      def mean(f: ((Double, Double, Double, Double, Double, Double)) => Double) =
        per.map(f).sum / per.size
      Row(name, ss.size, mean(_._1), mean(_._2), mean(_._3), mean(_._4),
        mean(_._5), mean(_._6))
    }
  }

  def gcMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
}
