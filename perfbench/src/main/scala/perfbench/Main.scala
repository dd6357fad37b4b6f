package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark driver: one process, one `local[N]` session, one client
  * thread issuing operations in a closed loop, after set-up and warm-up,
  * for the number of steps that take `--seconds` of operation time on
  * the reference machine. Prints a named report
  * line, then (last) the result line with the gated metrics: end-to-end
  * ones untraced (`--trace 0`), the per-layer ledger traced
  * (`--trace 1`).
  */
object Main {

  /** End-to-end metrics on the result line, in BENCHMARK.json order. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "rows_per_s" -> "1/s", "main_p50_ms" -> "ms",
    "side_p50_ms" -> "ms", "cpu_us_per_row" -> "us", "write_amp" -> "ratio",
    "space_amp" -> "ratio")

  private val LayerFields: Seq[(String, String)] = Seq("wall_s" -> "s",
    "task_cpu_s" -> "s", "core_idle_s" -> "s", "gc_s" -> "s",
    "shuffle_mb" -> "MB", "spill_mb" -> "MB", "jobs" -> "count")

  /** `driver` time has no stages by definition, so only its wall, idle
    * and GC time can be other than 0. */
  private val DriverFields = Set("wall_s", "core_idle_s", "gc_s")

  /** Per-layer metrics on a traced run's result line. */
  val PerLayer: Seq[(String, String)] =
    Tracer.Layers.flatMap(l => LayerFields.collect {
      case (f, u) if l != "driver" || DriverFields(f) => s"$l.$f" -> u }) ++
      Seq("ingest.keep_ratio" -> "ratio", "dedup.new_ratio" -> "ratio",
        "pipeline.warehouse.files_added_per_commit" -> "count",
        "pipeline.warehouse.scan_files_per_read" -> "count",
        "pipeline.warehouse.rows_examined_per_row_returned" -> "ratio",
        "pipeline.warehouse.metadata_ms_per_read" -> "ms",
        "pipeline.warehouse.planning_ms_per_op" -> "ms",
        "pipeline.warehouse.live_files" -> "count",
        "pipeline.warehouse.versions" -> "count",
        "pipeline.index_store.probe_files_opened_ratio" -> "ratio",
        "pipeline.index_store.compactions" -> "count",
        "streaming.add_batch_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
        "streaming.wal_commit_ms" -> "ms", "streaming.latest_offset_ms" -> "ms",
        "streaming.dup_ratio" -> "ratio", "ext.cluster_pairs" -> "count",
        "jvm.jit_compile_s" -> "s", "jvm.heap_after_gc_mb" -> "MB",
        "trace.overhead_p50_ratio" -> "ratio",
        "trace.overhead_cpu_ratio" -> "ratio",
        "trace.ledger_vs_untraced_ratio" -> "ratio")

  private val SetupRepeats = 3

  /** Bytes of live table data: the files the tables' heads read. */
  def liveBytes(wl: Workload): Long = wl.tables.flatMap(t =>
    wl.warehouse.read(t).inputFiles).map(f =>
      Files.size(Paths.get(new org.apache.hadoop.fs.Path(f).toUri.getPath))).sum

  /** `<prefix>_p50_ms` and, with enough samples, `<prefix>_tail_ms` (the
    * highest percentile with at least ten samples above it). */
  def latency(prefix: String, ops: Seq[Op], tail: Boolean)
      : Seq[(String, (Double, String))] = {
    val ms = ops.map(_.ms)
    if (ms.isEmpty) Nil
    else (s"${prefix}_p50_ms" -> (Stats.median(ms), "ms")) +:
      (if (!tail) Nil else Stats.tail(ms).toSeq.flatMap { case (p, v, n) =>
        Seq(s"${prefix}_tail_ms" -> (v, "ms"),
          s"${prefix}_tail_pct" -> (p, "%"),
          s"${prefix}_samples" -> (n.toDouble, "count"))
      })
  }

  private def workload(name: String): Workload = name match {
    case "tle_cron" => new TleCron
    case "docs_stream_dedup" => new DocsStream
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wlName = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val cores = opts("cores").toInt
    val out = Paths.get(opts("out"))
    val work = out.resolve(s"work-${ProcessHandle.current().pid()}")
    val loadBefore = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

    val spark = graft.GraftSession.local("perfbench", cores)
    val sessionReadyMs = System.currentTimeMillis()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    try run(spark, wlName, seed, seconds, trace, cores, out, work, loadBefore,
        (sessionReadyMs - jvmStartMs) / 1000.0, opts.getOrElse("source", ""))
    finally {
      spark.stop()
      Dirs.deleteRecursively(work)
    }
  }

  private def run(spark: SparkSession, wlName: String, seed: Long,
      seconds: Double, trace: Boolean, cores: Int, out: Path, work: Path,
      loadBefore: Double, startS: Double, source: String): Unit = {
    // Set-up runs SetupRepeats times into fresh directories; the last
    // instance is the one the loop drives.
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var wl: Workload = null
    (0 until SetupRepeats).foreach { i =>
      if (wl != null) Dirs.deleteRecursively(work.resolve(s"setup-${i - 1}"))
      wl = workload(wlName)
      val t0 = System.nanoTime()
      wl.setup(spark, work.resolve(s"setup-$i"), seed)
      setupTimes += (System.nanoTime() - t0) / 1e9
    }
    val setupS = startS + Stats.median(setupTimes.toSeq)

    val tracer = if (trace) Some(new Tracer(spark, cores)) else None
    val rec = new Recorder(tracer)
    val warm0 = System.nanoTime()
    wl.warmup(rec)
    val warmupS = (System.nanoTime() - warm0) / 1e9

    tracer.foreach(_.install())
    val storage = new Storage(wl.warehouseDir)
    storage.baseline()
    val versionsAtStart = wl.tables.map(t => t -> wl.warehouse.versions(t).max).toMap
    val jit0 = Clock.jitMs()
    val stat0 = Clock.hostCpu()
    rec.timing = true
    val plannedSteps = math.max(1, math.round(seconds / wl.stepSeconds).toInt)
    var steps = 0
    // space amplification after each step; its median is reported, so
    // where a run stops in the maintenance cycle does not decide it
    val spaceAmp = mutable.ArrayBuffer.empty[Double]
    val wall0 = System.nanoTime()
    // the wall guard ends a run on a machine far slower than the
    // reference one before the process's time limit
    while (steps < plannedSteps &&
        System.nanoTime() - wall0 < (3 * seconds + 20) * 1e9) {
      // traced runs alternate traced and untraced steps, so the tracing
      // overhead is measured within one run
      rec.tracedStep = trace && steps % 2 == 0
      rec.step = steps
      try wl.step(rec)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"step $steps failed: $e") }
      storage.scan()
      spaceAmp += storage.storedBytes.toDouble / math.max(1L, liveBytes(wl))
      steps += 1
    }
    rec.timing = false
    val loopWallS = (System.nanoTime() - wall0) / 1e9
    // share of the machine's CPU time the hypervisor took during the loop
    val stealShare = (stat0, Clock.hostCpu()) match {
      case (Some((s0, t0)), Some((s1, t1))) if t1 > t0 =>
        (s1 - s0).toDouble / (t1 - t0)
      case _ => -1.0
    }
    val jitS = (Clock.jitMs() - jit0) / 1000.0
    val ops = rec.ops.toSeq

    val checkFailures = try wl.finalChecks() catch {
      case scala.util.control.NonFatal(e) => Seq(s"final checks threw: $e")
    }
    checkFailures.foreach(f => System.err.println(s"check failed: $f"))
    // a step the wall guard cut counts as one failed operation
    val attempted = ops.size + 1 + (plannedSteps - steps)
    val failed = ops.count(!_.ok) + (if (checkFailures.nonEmpty) 1 else 0) +
      (plannedSteps - steps)

    val timedS = ops.map(o => o.endUs - o.startUs).sum / 1e6
    val cpuS = ops.map(_.cpuNs).sum / 1e9
    val landed = wl.landedBytes
    val stored = storage.storedBytes
    val live = liveBytes(wl)
    // Gated figures are medians over the steps: a step is the workload's
    // repeating unit (one fetch; two epochs, one of which compacts the
    // index, and a cluster query), so every step is the same mix of
    // operations, and a slow spell of the machine moves a few steps, not
    // the median.
    def perStep(sel: Op => Boolean)(f: Seq[Op] => Double): Double = {
      val xs = ops.filter(sel).groupBy(_.step).values.map(f).toSeq
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    def p50(kinds: Set[String]) =
      perStep(o => kinds(o.kind))(os => os.map(_.ms).sum / os.size)
    val rowsPerS = perStep(_ => true)(os =>
      os.map(_.rows).sum / (os.map(o => o.endUs - o.startUs).sum / 1e6))
    val cpuUsPerRow = perStep(_ => true)(os =>
      os.map(_.cpuNs).sum / 1e3 / math.max(1L, os.map(_.rows).sum))
    val endToEnd: Map[String, Double] = Map(
      "setup_s" -> setupS,
      "rows_per_s" -> rowsPerS,
      "main_p50_ms" -> p50(wl.mainKinds),
      "side_p50_ms" -> p50(wl.sideKinds),
      "cpu_us_per_row" -> cpuUsPerRow,
      "write_amp" -> storage.writtenBytes.toDouble / math.max(1L, landed),
      "space_amp" -> Stats.median(spaceAmp.toSeq))

    val named: Seq[(String, (Double, String))] = Seq(
      "setup_s" -> (setupS, "s"),
      "rows_per_s" -> (rowsPerS, "1/s"),
      "cpu_s" -> (cpuS, "s"),
      "fail_ratio" -> (failed.toDouble / attempted, "ratio"),
      "write_amp" -> (endToEnd("write_amp"), "ratio"),
      "space_amp" -> (endToEnd("space_amp"), "ratio")) ++ wl.namedMetrics(ops)

    val wh = wl.warehouse
    val sizes = wl.sizes() ++ Map(
      "live_files" -> wl.tables.map(t => wh.read(t).inputFiles.length).sum,
      "versions" -> wl.tables.map(t => wh.versions(t).size).sum)
    val commits = wl.tables.flatMap(t =>
      wh.history(t).filter(_._1 > versionsAtStart(t)))
    val env = Map(
      "workload" -> wlName, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "cores" -> cores,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "load_avg_before" -> loadBefore, "source" -> source,
      "spark_conf" -> spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.") || k.startsWith("spark.shuffle.") ||
          k.startsWith("spark.master") || k.startsWith("spark.hadoop.fs.") }
        .toSeq.sortBy(_._1).toMap)
    val report = mutable.LinkedHashMap[String, Any](
      "env" -> env,
      "attempted" -> attempted, "failed" -> failed,
      "check_failures" -> checkFailures,
      "setup_runs_s" -> setupTimes.toSeq, "warmup_s" -> warmupS,
      "steps" -> steps, "planned_steps" -> plannedSteps,
      "loop_wall_s" -> loopWallS, "timed_s" -> timedS,
      "steal_share" -> stealShare,
      "op_ms" -> ops.groupBy(_.kind).map { case (k, v) =>
        k -> v.map(o => math.round(o.ms * 10) / 10.0) },
      "sizes" -> (sizes ++ Map("warehouse_bytes" -> stored,
        "live_bytes" -> live, "landed_bytes" -> landed,
        "written_bytes" -> storage.writtenBytes)),
      "metrics" -> named.map { case (n, (v, u)) =>
        n -> Map("value" -> v, "unit" -> u) }.toMap)

    val metrics: Seq[(String, String, Double)] = tracer match {
      case None => EndToEnd.map { case (n, u) => (n, u, endToEnd(n)) }
      case Some(t) =>
        t.drain()
        val ledger = Ledger.compute(t, ops)
        Files.createDirectories(out)
        Files.write(out.resolve(s"trace-$wlName-seed$seed.json"),
          Ledger.dump(t, ops, ledger).getBytes(UTF_8))
        val specific = wl.layerMetrics(ops, t) ++
          Ledger.warehouseMetrics(t, ops, wl.warehouseDir.toString)
        val sizeMetrics = Map(
          "pipeline.warehouse.live_files" -> sizes("live_files").toString.toDouble,
          "pipeline.warehouse.versions" -> sizes("versions").toString.toDouble,
          "pipeline.warehouse.files_added_per_commit" ->
            commits.map(_._2.getOrElse("numFilesAdded", "0").toDouble).sum /
              math.max(1, commits.size))
        val all = ledger.metrics ++ specific ++ sizeMetrics ++
          overhead(ops, wl) ++ Map("jvm.jit_compile_s" -> jitS,
            "jvm.heap_after_gc_mb" -> Clock.heapAfterGcBytes() / 1e6)
        report("ledger_sum_s") = Tracer.Layers.map(l => ledger.metrics(s"$l.wall_s")).sum
        report("traced_op_s") = ops.filter(_.traced).map(o => o.endUs - o.startUs).sum / 1e6
        PerLayer.map { case (n, u) => (n, u, all.getOrElse(n, 0.0)) }
    }
    println(Json.write(Map("report" -> report)))
    println(Json.write(mutable.LinkedHashMap(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (n, u, v) =>
        n -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }: _*))))
  }

  /** Tracing overhead inside one traced run: traced against untraced
    * operations of the same kinds. */
  private def overhead(ops: Seq[Op], wl: Workload): Map[String, Double] = {
    val main = ops.filter(o => wl.mainKinds(o.kind))
    val (tr, un) = main.partition(_.traced)
    if (tr.isEmpty || un.isEmpty) return Map.empty
    val untracedMedian = ops.filterNot(_.traced).groupBy(_.kind)
      .map { case (k, os) => k -> Stats.median(os.map(_.ms)) }
    val traced = ops.filter(o => o.traced && untracedMedian.contains(o.kind))
    Map(
      "trace.overhead_p50_ratio" ->
        Stats.median(tr.map(_.ms)) / Stats.median(un.map(_.ms)),
      "trace.overhead_cpu_ratio" ->
        (tr.map(_.cpuNs).sum.toDouble / tr.size) / (un.map(_.cpuNs).sum.toDouble / un.size),
      "trace.ledger_vs_untraced_ratio" ->
        traced.map(_.ms).sum / traced.map(o => untracedMedian(o.kind)).sum)
  }
}
