package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The per-layer ledger of a traced run. Every traced operation's wall
  * time is split without gaps or overlaps: an instant with Spark stages
  * running goes in equal shares to the layers of those stages, an instant
  * inside a job but between its stages goes to the job's layer, and an
  * instant with no job running goes to `driver` (planning, manifest
  * reads, commit I/O, listing). So the layers' self times plus
  * `driver.wall_s` sum to the traced operations' wall time.
  */
object Ledger {
  import Tracer._

  final case class Result(metrics: Map[String, Double],
      stageLayer: Map[Int, String], jobLayer: Map[Int, String])

  /** The traced op whose interval holds `us`. The client is single
    * threaded, so every job that starts during an op belongs to it. */
  def opAt(ops: Seq[Op], us: Long): Option[Int] =
    ops.find(o => o.traced && o.startUs <= us && us <= o.endUs).map(_.index)

  /** Jobs of traced ops, with their op index. */
  def tracedJobs(t: Tracer, ops: Seq[Op]): Seq[(JobRec, Int)] =
    t.jobs.values.asScala.toSeq.sortBy(_.jobId)
      .flatMap(j => opAt(ops, j.startUs).map(j -> _))

  /** SQL execution id -> traced op index. */
  def executionOps(t: Tracer, ops: Seq[Op]): Map[Long, Int] =
    tracedJobs(t, ops).flatMap { case (j, op) => j.executionId.map(_ -> op) }.toMap

  /** Scan and planning metrics of the traced operations, from the
    * executed plans of their SQL executions. A read is one file scan of a
    * table under the warehouse root `root`; a scan inside a cached plan
    * that several executions use counts once. Rows returned are those
    * the reading executions return or write. */
  def warehouseMetrics(t: Tracer, ops: Seq[Op], root: String)
      : Map[String, Double] = {
    val execOp = executionOps(t, ops)
    val qes = t.qes.asScala.toSeq.filter(q => execOp.contains(q.executionId))
    val reads = qes.map(q => q -> q.scans.filter(_.root.contains(root)))
      .filter(_._2.nonEmpty)
    val scans = reads.flatMap(_._2).groupBy(_.id).values.map(_.maxBy(_.files)).toSeq
    val n = math.max(1, scans.size)
    Map(
      "pipeline.warehouse.scan_files_per_read" -> scans.map(_.files).sum.toDouble / n,
      "pipeline.warehouse.rows_examined_per_row_returned" ->
        scans.map(_.rows).sum.toDouble / math.max(1L, reads.map(_._1.rowsOut).sum),
      "pipeline.warehouse.metadata_ms_per_read" -> scans.map(_.metadataMs).sum.toDouble / n,
      "pipeline.warehouse.planning_ms_per_op" ->
        qes.map(_.planningMs).sum / math.max(1, ops.count(_.traced)))
  }

  def compute(t: Tracer, ops: Seq[Op]): Result = {
    val traced = ops.filter(_.traced)
    val jobOps = tracedJobs(t, ops)
    val jobs = jobOps.map(_._1)
    val opOfJob = jobOps.map { case (j, op) => j.jobId -> op }.toMap
    val stageById = t.stages.asScala.toSeq.groupBy(_.stageId)
      .map { case (id, rs) => id -> rs.maxBy(_.attempt) }
    val samples = t.samples.asScala.toSeq

    // The innermost benchmark span open at `us` within op `trace`.
    def spanLayer(trace: Int, us: Long): Option[String] =
      t.spans.filter(s => s.trace == trace && s.startUs <= us &&
          (s.endUs < 0 || s.endUs >= us))
        .sortBy(_.startUs).lastOption.map(_.layer)

    // Streaming jobs all carry the query's start() call site; their
    // layer is the one most sampled on the query thread while they ran.
    def sampledLayer(j: JobRec): Option[String] = {
      val end = if (j.endUs < 0) Long.MaxValue else j.endUs
      val in = samples.filter { case (us, _) => us >= j.startUs && us <= end }
      if (in.isEmpty) None
      else Some(in.groupBy(_._2).maxBy(_._2.size)._1)
    }

    val stageLayer = mutable.Map.empty[Int, String]
    val jobLayer = mutable.Map.empty[Int, String]
    // A stage's layer: the innermost mapped graft frame of its own call
    // site, else of its SQL execution's call site (stages that Spark
    // submits from async threads), else the span the op was in.
    jobs.foreach { j =>
      val fallback = j.executionId.flatMap(e => Option(t.executionLayer.get(e)))
        .orElse(spanLayer(opOfJob(j.jobId), j.startUs)).getOrElse("driver")
      val refined = if (j.streaming) sampledLayer(j) else None
      val ls = j.stageIds.flatMap(stageById.get).map { s =>
        val l = refined.orElse(s.layer).getOrElse(fallback)
        stageLayer(s.stageId) = l
        l
      }
      jobLayer(j.jobId) =
        if (ls.isEmpty) refined.getOrElse(fallback)
        else ls.groupBy(identity).maxBy(_._2.size)._1
    }

    val wallUs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    traced.foreach { op =>
      val opJobs = jobs.filter(j => opOfJob(j.jobId) == op.index)
      def clip(a: Long, b: Long) =
        (math.max(a, op.startUs), math.min(if (b < 0) op.endUs else b, op.endUs))
      val stageIv = opJobs.flatMap(_.stageIds).distinct
        .flatMap(stageById.get).map(s =>
          (clip(s.submitUs, s.endUs), stageLayer.getOrElse(s.stageId, "driver")))
        .filter { case ((a, b), _) => b > a }
      val jobIv = opJobs.map(j => (clip(j.startUs, j.endUs), jobLayer(j.jobId)))
        .filter { case ((a, b), _) => b > a }
      val cuts = ((op.startUs, op.endUs) +: (stageIv ++ jobIv).map(_._1))
        .flatMap { case (a, b) => Seq(a, b) }.distinct.sorted
      cuts.zip(cuts.tail).foreach { case (a, b) =>
        val len = (b - a).toDouble
        val active = stageIv.filter { case ((s, e), _) => s <= a && e >= b }
        val owners =
          if (active.nonEmpty) active.map(_._2)
          else jobIv.filter { case ((s, e), _) => s <= a && e >= b }.map(_._2)
        if (owners.isEmpty) wallUs("driver") += len
        else owners.foreach(l => wallUs(l) += len / owners.size)
      }
    }

    val out = mutable.LinkedHashMap.empty[String, Double]
    val tracedStages = jobs.flatMap(_.stageIds).distinct.flatMap(stageById.get)
    Layers.foreach { l =>
      val ss = tracedStages.filter(s => stageLayer.get(s.stageId).contains(l))
      val wall = wallUs(l) / 1e6
      val runS = ss.map(_.runMs).sum / 1000.0
      out(s"$l.wall_s") = wall
      out(s"$l.task_cpu_s") = ss.map(_.cpuNs).sum / 1e9
      out(s"$l.core_idle_s") = t.cores * wall - runS
      out(s"$l.gc_s") =
        if (l == "driver")
          math.max(0.0, (traced.map(_.gcMs).sum - tracedStages.map(_.gcMs).sum) / 1000.0)
        else ss.map(_.gcMs).sum / 1000.0
      out(s"$l.shuffle_mb") = ss.map(_.shuffleBytes).sum / 1e6
      out(s"$l.spill_mb") = ss.map(_.spillBytes).sum / 1e6
      out(s"$l.jobs") = jobLayer.count(_._2 == l).toDouble
    }
    Result(out.toMap, stageLayer.toMap, jobLayer.toMap)
  }

  /** Spans of the traced run for the dump: the benchmark's own spans,
    * one per Spark job (child of the span open when it started) and one
    * per stage (child of its job), each with its trace id and counts. */
  def dump(t: Tracer, ops: Seq[Op], r: Result): String = {
    val stageById = t.stages.asScala.toSeq.groupBy(_.stageId)
      .map { case (id, rs) => id -> rs.maxBy(_.attempt) }
    val bench = t.spans.toSeq.map(s => Map("id" -> s"b${s.id}",
      "parent" -> (if (s.parent < 0) null else s"b${s.parent}"),
      "trace" -> s.trace, "name" -> s.name, "layer" -> s.layer,
      "start_us" -> s.startUs, "end_us" -> s.endUs))
    val spark = tracedJobs(t, ops).flatMap { case (j, op) =>
      val parent = t.spans.filter(s => s.trace == op &&
          s.startUs <= j.startUs && (s.endUs < 0 || s.endUs >= j.startUs))
        .sortBy(_.startUs).lastOption.map(s => s"b${s.id}").orNull
      Map("id" -> s"j${j.jobId}", "parent" -> parent, "trace" -> op,
        "name" -> s"job ${j.jobId}",
        "layer" -> r.jobLayer.getOrElse(j.jobId, "driver"),
        "start_us" -> j.startUs, "end_us" -> j.endUs,
        "counts" -> Map("stages" -> j.stageIds.size)) +:
      j.stageIds.flatMap(stageById.get).map(s => Map(
        "id" -> s"s${s.stageId}", "parent" -> s"j${j.jobId}", "trace" -> op,
        "name" -> s.name,
        "layer" -> r.stageLayer.getOrElse(s.stageId, "driver"),
        "start_us" -> s.submitUs, "end_us" -> s.endUs,
        "counts" -> Map("tasks" -> s.tasks, "cpu_ns" -> s.cpuNs,
          "run_ms" -> s.runMs, "gc_ms" -> s.gcMs,
          "shuffle_bytes" -> s.shuffleBytes, "spill_bytes" -> s.spillBytes)))
    }
    Json.write(Map("spans" -> (bench ++ spark),
      "ledger" -> scala.collection.immutable.TreeMap(r.metrics.toSeq: _*)))
  }
}
