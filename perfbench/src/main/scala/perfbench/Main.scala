package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, started by perfbench/run.py:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *       --work DIR --spans FILE --commit ID --source DIGEST
  *
  * One client runs the workload in a closed loop for S seconds against
  * a local[cores] Spark session. Set-up ends with the workload's
  * `warmIters` warm-up iterations; the timed loop then makes at least
  * `minIters` iterations and ends on a whole `cycle`. Diagnostics go to
  * stdout first; the last stdout line is the JSON result. `--trace 1`
  * traces every other cycle, reports the per-layer metrics from
  * those, writes the spans to FILE, and prints the tracing overhead as
  * traced minus untraced iterations. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val work = opts("work")
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ok =
      try { run(spark, opts, cores); true }
      catch { case e: Throwable => e.printStackTrace(); false }
      finally spark.stop()
    sys.exit(if (ok) 0 else 1)
  }

  def run(spark: SparkSession, opts: Map[String, String], cores: Int): Unit = {
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = opts("work")
    val conf = Seq("spark.master", "spark.sql.shuffle.partitions",
        "spark.sql.session.timeZone", "spark.local.dir")
      .map(k => k -> spark.conf.getOption(k).getOrElse(""))
    println(Json.obj(Seq("workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced, "cores" -> cores, "spark_version" -> spark.version,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_conf" -> conf, "commit" -> opts("commit"), "source" -> opts("source"))))

    val tracer = new Tracer(spark.sparkContext)
    val h = new Harness(spark, tracer)
    val w: Workload = workload match {
      case "scenario_edit" => new ScenarioEdit(h, seed)
      case "corpus_index" => new CorpusIndex(h, seed)
      case other => sys.error(s"unknown workload '$other'")
    }
    val log = new JobLog
    if (traced) spark.sparkContext.addSparkListener(log)

    // host speed: the probe's median time over the run, sampled after
    // the set-up and before every timed iteration
    val probe = new Probe(spark)
    val probeMs = mutable.ArrayBuffer.empty[Double]
    def sampleHost(): Unit = (1 to 3).foreach(_ => probeMs += probe.run())

    // one set-up per run: it costs 25-40 s, mostly JVM and Spark
    // warm-up, and the run budget has no room for a second. Traced runs
    // trace it too, since some calls occur only there
    val root = s"$work/root"
    tracer.enabled = traced
    tracer.iter = -1
    val t0 = System.nanoTime()
    w.setup(root)
    // warm-up: the loop's own iterations, untimed and untraced, until
    // the JIT has compiled its calls (the first ones run 2-3x slower
    // and keep speeding up for several iterations)
    tracer.enabled = false
    (0 until w.warmIters).foreach { i =>
      try w.iteration(i) catch { case e: Exception => h.fail(s"warm-up iteration $i", e) }
    }
    val setupS = (System.nanoTime() - t0) / 1e9
    val uptimeS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    println(f"setup: $setupS%.2f s (JVM up $uptimeS%.1f s)")
    h.samples.clear()
    sampleHost()

    val gc0 = Layers.gcMs
    val steal0 = Main.cpuTicks
    val loopStart = System.nanoTime()
    val deadline = loopStart + (seconds * 1e9).toLong
    var it = 0
    var tracedMs = 0.0
    var tracedGcMs = 0L
    var store = (0L, 0L, 0L) // bytes, files, live rows after minIters
    while (it < w.minIters || System.nanoTime() < deadline || it % w.cycle != 0) {
      // traced runs trace every other cycle, the first included; the
      // untraced ones in between measure the same mix without tracing
      tracer.enabled = traced && it / w.cycle % 2 == 0
      tracer.iter = it
      sampleHost()
      val g0 = Layers.gcMs
      val c0 = h.calls
      val t0 = System.nanoTime()
      try w.iteration(w.warmIters + it)
      catch { case e: Exception => h.fail(s"iteration ${w.warmIters + it}", e) }
      h.record("iter_ms", (System.nanoTime() - t0) / 1e6)
      h.record("iter_calls", (h.calls - c0).toDouble)
      if (tracer.enabled) {
        tracedMs += (System.nanoTime() - t0) / 1e6
        tracedGcMs += Layers.gcMs - g0
      }
      it += 1
      if (it == w.minIters) {
        val (bytes, files) = diskUsage(new java.io.File(root))
        store = (bytes, files, w.liveRows)
      }
    }
    tracer.enabled = false
    val loopS = (System.nanoTime() - loopStart) / 1e9
    val gcMs = Layers.gcMs - gc0
    val steal = Main.cpuTicks.zip(steal0).map { case (a, b) => a - b }
    if (steal.size > 7 && steal.sum > 0)
      println(f"cpu steal during the loop: ${100.0 * steal(7) / steal.sum}%.1f%% of host cpu time")
    val v0 = System.nanoTime()
    try w.verify() catch { case e: Exception => h.fail("verify", e) }
    println(f"verify: ${(System.nanoTime() - v0) / 1e9}%.2f s")

    val (bytes, files, rows) = store
    // live heap: the least used heap over a few forced collections
    val rt = Runtime.getRuntime
    val heapMb = (1 to 3).map { _ =>
      System.gc(); Thread.sleep(100); (rt.totalMemory - rt.freeMemory) / 1048576.0
    }.min
    println(f"loop: $it iterations in $loopS%.2f s; gc $gcMs ms; store after " +
      f"${w.minIters} iterations $bytes bytes in $files files for $rows rows; " +
      f"heap after GC $heapMb%.1f MB")
    // times are reported at the reference speed: raw x speed
    val hostMs = Stats.median(probeMs.toSeq)
    val speed = Probe.RefMs / hostMs
    println(f"host speed: probe job p50 $hostMs%.1f ms over ${probeMs.size} runs " +
      f"(reference ${Probe.RefMs}%.0f ms); end-to-end times are scaled by $speed%.3f")

    def endToEnd(sel: Option[Boolean]): Seq[(String, Double, String)] = {
      val writes = h.values("write_ms", sel)
      val reads = h.values("read_ms", sel)
      println(f"  ${sel.fold("all")(t => if (t) "traced" else "untraced")} iterations, " +
        "unscaled: " + Seq("write" -> writes, "read" -> reads).map { case (k, xs) =>
          val (p, t) = Stats.tail(xs)
          f"$k n=${xs.size} p50=${Stats.median(xs)}%.1f ms, p$p=$t%.1f ms"
        }.mkString("; "))
      if (sel.isEmpty) Seq("write" -> writes, "read" -> reads).foreach { case (k, xs) =>
        println(s"  $k samples, ms in call order: " + xs.map(x => f"$x%.0f").mkString(" "))
      }
      Seq(
        ("write_p50_ms", Stats.median(writes) * speed, "ms"),
        ("read_p50_ms", Stats.median(reads) * speed, "ms"),
        ("calls_per_s", h.values("iter_calls", sel).sum /
          (h.values("iter_ms", sel).sum / 1e3) / speed, "1/s"))
    }

    val metrics: Seq[(String, Double, String)] =
      if (!traced)
        Seq(("setup_s", setupS * speed, "s")) ++ endToEnd(None) ++ Seq(
          ("bytes_per_row", bytes.toDouble / rows, "bytes"),
          ("heap_live_mb", heapMb, "MB"))
      else {
        log.drain()
        tracer.dump(opts("spans"), log)
        // a call's figures come from the loop where it occurs there,
        // else from the set-up
        val (loop, setup) = tracer.spans.toSeq.partition(_.iter >= 0)
        val loopRows = Layers.rows(loop, log)
        val rows = loopRows ++ Layers.rows(setup, log)
          .filterNot(r => loopRows.exists(_.name == r.name))
        printLayerTable(rows)
        // tracing overhead: the same end-to-end figures over the traced
        // and the untraced iterations of this run
        if (it < 2) println("  tracing overhead: needs an untraced iteration")
        else {
          val on = endToEnd(Some(true)).map(m => m._1 -> m._2).toMap
          endToEnd(Some(false)).foreach { case (k, v, u) =>
            println(f"  tracing overhead $k: ${on(k) - v}%+.2f $u (${(on(k) / v - 1) * 100}%+.1f%%)")
          }
        }
        layerMetrics(rows, loop, log, files, cores, tracedMs, tracedGcMs) ++ Seq(
          ("host.probe_ms", hostMs, "ms"),
          ("raw.setup_s", setupS, "s"),
          ("raw.write_p50_ms", Stats.median(h.values("write_ms", Some(false))), "ms"),
          ("raw.read_p50_ms", Stats.median(h.values("read_ms", Some(false))), "ms"))
      }

    h.failures.foreach(f => println(s"failure: $f"))
    println(Json.obj(Seq("correct" -> (h.failed == 0), "attempted" -> h.attempted,
      "failed" -> h.failed, "metrics" -> metrics.map { case (k, v, u) =>
        k -> Seq("value" -> v, "unit" -> u) })))
  }

  /** The aggregate cpu line of /proc/stat (empty where there is none). */
  def cpuTicks: Seq[Long] = {
    val f = new java.io.File("/proc/stat")
    if (!f.canRead) Nil
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().next().split("\\s+").drop(1).map(_.toLong).toSeq
      finally src.close()
    }
  }

  /** Bytes and files under `dir`. */
  def diskUsage(dir: java.io.File): (Long, Long) = {
    val files = java.nio.file.Files.walk(dir.toPath).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_)).toSeq
    (files.map(java.nio.file.Files.size).sum, files.size.toLong)
  }

  /** Every span name the per-layer metrics cover, in layer order. */
  val LayerSpans: Seq[String] =
    Seq("checkout", "add_set", "add_par", "commit", "clone", "par_read", "ts_add",
      "ts_export").map("core." + _) ++
    Seq("sum", "product", "aggregate").map("report." + _) ++
    Seq("lsh_build", "lsh_delta", "ivfsq_build", "ivfsq_append", "ivfsq_compact",
      "ivfsq_load", "ivfsq_query", "bq_build", "bq_append", "bq_compact", "bq_query")
      .map("ops." + _)

  def printLayerTable(rows: Seq[Layers.Row]): Unit = {
    println(f"${"span"}%-18s ${"calls"}%5s ${"ms"}%9s ${"self_ms"}%9s ${"jobs"}%6s " +
      f"${"tasks"}%7s ${"driver_ms"}%9s ${"shuffle_B"}%10s")
    rows.foreach { r =>
      println(f"${r.name}%-18s ${r.calls}%5d ${r.ms}%9.1f ${r.selfMs}%9.1f ${r.jobs}%6.1f " +
        f"${r.tasks}%7.1f ${r.driverMs}%9.1f ${r.shuffleBytes}%10.0f")
    }
  }

  /** The per-layer metrics: per-call means of each span (0 where the
    * workload makes no such call), store I/O at the calls, and the
    * engine-wide figures per traced loop iteration. */
  def layerMetrics(rows: Seq[Layers.Row], spans: Seq[Span], log: JobLog, files: Long,
      cores: Int, tracedMs: Double, tracedGcMs: Long): Seq[(String, Double, String)] = {
    val byName = rows.map(r => r.name -> r).toMap
    val perSpan = LayerSpans.flatMap { n =>
      val r = byName.get(n)
      Seq((s"$n.ms", r.fold(0.0)(_.ms), "ms"), (s"$n.jobs", r.fold(0.0)(_.jobs), "count"),
        (s"$n.tasks", r.fold(0.0)(_.tasks), "count"),
        (s"$n.driver_ms", r.fold(0.0)(_.driverMs), "ms"),
        (s"$n.shuffle_bytes", r.fold(0.0)(_.shuffleBytes), "bytes"))
    }
    val reads = spans.filter(_.name == "core.par_read")
    val iters = spans.map(_.iter).distinct.size.max(1)
    val ids = spans.map(_.id).toSet
    val traced = log.stages.filter(st => ids.contains(st.span))
    perSpan ++ Seq(
      ("store.read_input_bytes",
        if (reads.isEmpty) 0.0 else reads.map(_.readBytes).sum.toDouble / reads.size, "bytes"),
      ("store.cached_read_share",
        if (reads.isEmpty) 0.0 else reads.count(_.readBytes == 0).toDouble / reads.size, "share"),
      ("store.write_bytes",
        spans.filter(_.parent < 0).map(_.writeBytes).sum.toDouble / iters, "bytes"),
      ("store.files", files.toDouble, "count"),
      ("spark.parallel_eff",
        if (tracedMs <= 0) 0.0 else traced.map(_.runMs).sum / (tracedMs * cores), "share"),
      ("spark.spill_bytes", traced.map(_.spillBytes).sum.toDouble / iters, "bytes"),
      ("jvm.gc_ms", tracedGcMs.toDouble / iters, "ms"))
  }
}
