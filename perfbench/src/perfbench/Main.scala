package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Entry point of the benchmark JVM.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --work DIR --data DIR
  *   Main --digest W --seed N
  *
  * The first form sets the workload up `setupReps` times, then ticks until
  * `S` seconds of operations have been timed, checks the outputs and
  * prints one JSON result line last on stdout. With `--trace 1` the timed
  * ticks are traced and per-layer metrics are reported instead of
  * end-to-end ones. The second form prints the SHA-256 of the workload's
  * generated inputs. */
object Main {

  /** Every per-layer metric, with its unit; a layer a workload does not
    * run reports 0. Times are mean self seconds per call. */
  val PerLayer: Seq[(String, String)] = Seq(
    "tables.read_s" -> "s", "tables.rows_read" -> "count",
    "portrait_ops.rule_match_s" -> "s", "portrait_ops.range_band_s" -> "s",
    "portrait_ops.most_frequent_s" -> "s", "portrait_ops.recency_bands_s" -> "s",
    "portrait_ops.rfm_s" -> "s", "portrait_ops.funnel_s" -> "s",
    "portrait_ops.sessionize_s" -> "s", "portrait_ops.retention_s" -> "s",
    "portrait_ops.upsert_s" -> "s", "portrait_ops.read_s" -> "s",
    "portrait_ops.vacuum_s" -> "s", "portrait_ops.lookup_s" -> "s",
    "portrait_ops.files_written" -> "count",
    "text_analysis.gate_s" -> "s", "text_analysis.pii_scrub_s" -> "s",
    "curation_pipeline.curate_incremental_s" -> "s",
    "graft_ops.exact_vs_history_s" -> "s", "graft_ops.near_vs_history_s" -> "s",
    "graft_ops.fingerprint_append_s" -> "s", "graft_ops.digest_append_s" -> "s",
    "graft_ops.bm25_append_s" -> "s", "graft_ops.ivf_append_s" -> "s",
    "graft_ops.bm25_search_s" -> "s", "graft_ops.ivf_search_s" -> "s",
    "graft_ops.rrf_fuse_s" -> "s", "graft_ops.recall_at_10" -> "ratio",
    "graft_ops.compact_s" -> "s", "graft_ops.vacuum_s" -> "s",
    "index_store.resolve_s" -> "s", "index_store.live_segments" -> "count",
    "index_store.commits" -> "count", "index_store.bytes_on_disk" -> "bytes",
    "index_store.files_on_disk" -> "count",
    "spark.jobs_per_step" -> "count", "spark.stages_per_step" -> "count",
    "spark.tasks_per_step" -> "count", "spark.jobs_per_query" -> "count",
    "spark.jobs_per_repeat" -> "count",
    "spark.task_busy_s" -> "s", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "jvm.gc_s" -> "s", "jvm.jit_s" -> "s",
    "tracing.overhead_frac" -> "ratio")

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  def main(args: Array[String]): Unit = {
    arg(args, "--digest") match {
      case Some(w) =>
        println(Gen.digest(w, arg(args, "--seed").get.toLong))
      case None =>
        val workload = arg(args, "--workload").get
        require(Workloads.Names.contains(workload), s"unknown workload $workload")
        val ok = run(workload, arg(args, "--seed").get.toLong,
          arg(args, "--seconds").get.toDouble, arg(args, "--trace").contains("1"),
          arg(args, "--work").get, arg(args, "--data").get)
        if (!ok) sys.exit(1)
    }
  }

  // ------------------------------------------------------------ probes

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNanos(): Long = osBean.getProcessCpuTime
  private def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0
  }
  private def jitSeconds(): Double = {
    val b = ManagementFactory.getCompilationMXBean
    if (b != null && b.isCompilationTimeMonitoringSupported)
      b.getTotalCompilationTime / 1000.0 else 0.0
  }
  /** Host CPU steal (all cores) from /proc/stat, in seconds. */
  private def stealSeconds(): Double = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+").lift(8)
      .map(_.toDouble / 100.0).getOrElse(0.0)
    finally src.close()
  } catch { case _: java.io.IOException => 0.0 }
  /** Old-generation occupancy, in MB. */
  private def oldGenMb(): Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed).sum / 1048576.0
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  // ------------------------------------------------------------- phases

  /** What one timed phase measured. */
  final class Phase {
    val stepS = mutable.ArrayBuffer.empty[Double]
    val queryS = mutable.ArrayBuffer.empty[Double]
    val repeatS = mutable.ArrayBuffer.empty[Double]
    var opNanos = 0L
    var cpu = 0L
    var rows = 0L
    var stepRows = 0L
    var attempted = 0
    var failed = 0
    var peakHeapMb = 0.0
    /** GC seconds of the harness's own full collections between ticks. */
    var forcedGcS = 0.0
  }

  private def runOps(ops: Seq[Op], i: Int, tr: Tracer, ph: Phase): Unit =
    ops.foreach { op =>
      ph.attempted += 1
      tr.step = i
      val c0 = cpuNanos()
      val t0 = System.nanoTime()
      try tr.span(op.kind)(op.body())
      catch { case e: Exception =>
        ph.failed += 1
        System.err.println(s"[perfbench] tick $i ${op.kind} failed: $e")
      }
      val dt = System.nanoTime() - t0
      ph.cpu += cpuNanos() - c0
      System.err.println(f"[perfbench] tick $i ${op.kind} ${dt / 1e9}%.3f s")
      ph.opNanos += dt
      ph.rows += op.rows
      op.kind match {
        case "step" => ph.stepS += dt / 1e9; ph.stepRows += op.rows
        case "query" => ph.queryS += dt / 1e9
        case "repeat" => ph.repeatS += dt / 1e9
        case _ =>
      }
      if (tr.enabled) op.observe()
    }

  /** Ticks from `first` until `seconds` of operations are timed and at
    * least `minSteps` steps and `minQueries` fresh queries ran; `stepsOnly`
    * skips every other kind of operation. Returns the phase and the next
    * tick. */
  private def phase(w: Workload, tr: Tracer, first: Int, seconds: Double,
      minSteps: Int, minQueries: Int,
      stepsOnly: Boolean = false): (Phase, Int) = {
    val ph = new Phase
    var i = first
    while (ph.opNanos / 1e9 < seconds || ph.stepS.size < minSteps ||
        ph.queryS.size < minQueries) {
      runOps(w.tick(i).filter(op => !stepsOnly || op.kind == "step"), i, tr, ph)
      // full collections outside the timer leave only live data in the old
      // generation, so the sample does not depend on GC timing; the pause
      // lets Spark's cleaner drop blocks the first collection released
      val gc0 = gcSeconds()
      System.gc()
      Thread.sleep(200)
      System.gc()
      ph.forcedGcS += gcSeconds() - gc0
      ph.peakHeapMb = math.max(ph.peakHeapMb, oldGenMb())
      i += 1
    }
    (ph, i)
  }

  // ---------------------------------------------------------------- run

  def run(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, data: String): Boolean = {
    val t0 = System.nanoTime()
    val steal0 = stealSeconds()
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftExtensions.register(spark)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tr = new Tracer(spark)
    try {
      val w = Workloads(workload, spark, seed, tr, data)
      val setupS = (0 until w.setupReps).map { r =>
        val s0 = System.nanoTime()
        w.setup(s"$work/setup$r")
        (System.nanoTime() - s0) / 1e9
      }
      val gc0 = gcSeconds(); val jit0 = jitSeconds()
      // No warm-up tick: a nightly job and a restarted ingest service both
      // pay their first-use costs (JIT, codegen) inside their first batch.
      // The traced phase covers the same ticks as an untraced run. The
      // tracing overhead then compares single steps of the same code path
      // run untraced, traced, untraced: the traced step against the mean of
      // its neighbours, so that a JVM still warming up favours neither
      // side. The workload's stage-by-stage operations follow, traced.
      val (measured, extra, overhead) =
        if (!trace) (phase(w, tr, 0, seconds, w.minSteps, 2)._1, Nil, 0.0)
        else {
          w.tracedPhaseStarts()
          tr.enable()
          val (ph, first) = phase(w, tr, 0, seconds, w.minSteps, 2)
          var next = first
          val uTu = Seq(false, true, false).map { on =>
            if (on) tr.enable() else tr.disable()
            val (p, n) = phase(w, tr, next, 0, 1, 0, stepsOnly = true)
            next = n
            on -> p
          }
          tr.enable()
          runOps(w.stageOps(), next, tr, ph)
          tr.disable()
          org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
          def stepMedian(on: Boolean) =
            median(uTu.filter(_._1 == on).flatMap(_._2.stepS))
          (ph, uTu.map(_._2), stepMedian(true) / stepMedian(false) - 1.0)
        }
      val gcS = gcSeconds() - gc0 - (measured +: extra).map(_.forcedGcS).sum
      val jitS = jitSeconds() - jit0
      val checked = try w.check() catch { case e: Exception =>
        Checked(Seq(s"output check threw $e"), 0.0, 0.0) }
      checked.failures.foreach(f => System.err.println(s"[perfbench] CHECK FAILED: $f"))

      val phases = measured +: extra
      val attempted = phases.map(_.attempted).sum + 1
      val failed = phases.map(_.failed).sum + (if (checked.failures.isEmpty) 0 else 1)
      val correct = failed == 0

      val metrics: Seq[(String, Double, String)] =
        if (!trace) {
          val secs = measured.opNanos / 1e9
          Seq(
            ("setup_s", sessionS + median(setupS), "s"),
            ("rows_per_s", measured.rows / secs, "1/s"),
            ("step_p50_s", median(measured.stepS.toSeq), "s"),
            ("query_p50_s", median(measured.queryS.toSeq), "s"),
            ("cpu_s_per_krow", measured.cpu / 1e9 / (measured.rows / 1000.0), "s"),
            ("peak_heap_mb", measured.peakHeapMb, "MB"),
            ("dup_recall", checked.dupRecall, "ratio"),
            ("bytes_per_input_byte", checked.bytesPerInputByte, "ratio"))
        } else perLayer(tr, w, measured, gcS, jitS, overhead)
      // host noise: attribution only, never a metric or a gate
      val q = measured.queryS.sorted
      val p90 = if (q.size >= 100) f""", "query_p90_s": ${q((q.size * 9) / 10)}""" else ""
      println(s"""{"host_noise": {"steal_s": ${stealSeconds() - steal0}, """ +
        s""""gc_s": ${gcSeconds()}, "jit_s": ${jitSeconds()}, """ +
        s""""gc_timed_s": $gcS, "jit_timed_s": $jitS}, """ +
        s""""samples": {"steps": ${measured.stepS.size}, "queries": ${q.size}}, """ +
        s""""step_s": [${measured.stepS.map(x => f"$x%.3f").mkString(", ")}], """ +
        s""""query_s": [${measured.queryS.map(x => f"$x%.3f").mkString(", ")}], """ +
        s""""repeat_s": [${measured.repeatS.map(x => f"$x%.3f").mkString(", ")}], """ +
        s""""failed_frac": ${failed.toDouble / attempted}, "setup_reps_s": [${setupS.mkString(", ")}], """ +
        s""""session_s": $sessionS$p90}""")
      val body = metrics.map { case (n, v, u) =>
        s""""$n": {"value": ${jsonNum(v)}, "unit": "$u"}""" }.mkString(", ")
      println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
      correct
    } finally spark.stop()
  }

  private def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  /** Per-layer metrics of the traced phase `ph`. */
  private def perLayer(tr: Tracer, w: Workload, ph: Phase, gcS: Double,
      jitS: Double, overhead: Double): Seq[(String, Double, String)] = {
    val self = tr.selfNanos()
    val root = tr.rootOf()
    val spans = tr.spans.toSeq
    val byName = spans.filter(_.parent >= 0).groupBy(_.name)
    val times = byName.map { case (n, ss) =>
      s"${n}_s" -> ss.map(s => self(s.id)).sum / 1e9 / ss.size }
    val counts = tr.listener.synchronized(
      tr.listener.bySpan.map { case (k, c) => k -> c }.toMap)
    def sumOver(kind: String)(f: SpanListener#Counts => Double): Double = {
      val roots = spans.filter(s => s.parent < 0 && s.name == kind).map(_.id).toSet
      val n = math.max(1, roots.size)
      counts.collect { case (sid, c) if roots(root(sid)) => f(c) }.sum / n
    }
    val extra = Map(
      "spark.jobs_per_step" -> sumOver("step")(_.jobs.toDouble),
      "spark.stages_per_step" -> sumOver("step")(_.stages.toDouble),
      "spark.tasks_per_step" -> sumOver("step")(_.tasks.toDouble),
      "spark.jobs_per_query" -> sumOver("query")(_.jobs.toDouble),
      "spark.jobs_per_repeat" -> sumOver("repeat")(_.jobs.toDouble),
      "spark.task_busy_s" -> sumOver("step")(_.busyMs / 1000.0),
      "spark.shuffle_write_bytes" -> sumOver("step")(_.shuffleWrite.toDouble),
      "spark.spill_bytes" -> sumOver("step")(_.spill.toDouble),
      "tables.rows_read" -> ph.stepRows.toDouble / math.max(1, ph.stepS.size),
      "jvm.gc_s" -> gcS, "jvm.jit_s" -> jitS,
      "tracing.overhead_frac" -> overhead)
    val all = times ++ w.layerCounts() ++ extra
    PerLayer.map { case (n, u) => (n, all.getOrElse(n, 0.0), u) }
  }
}
