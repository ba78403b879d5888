package perfbench

import scala.jdk.CollectionConverters._

/** Turns the passes of one run into the report the runner prints:
  * end-to-end figures from the untraced timed passes, per-layer figures
  * (means per traced pass) from the traced ones, the operation counts
  * the correctness verdict needs, and the window's contamination
  * checks. */
object Report {

  val Families: Seq[String] = Workloads.Families.map(_._1)

  /** Every per-layer metric, in the order they are reported. A layer a
    * workload does not call reads 0 there. */
  val LayerNames: Seq[String] = Seq(
    "ingest.extract_s", "ingest.bytes",
    "wordcount.count_s", "wordcount.task_cpu_s", "wordcount.tokens",
    "wordcount.combine_ratio", "wordcount.top20_s",
    "sink.write_s", "sink.bytes",
    "plan.prepare_s", "plan.exchanges", "plan.scans",
    "exec.jobs", "exec.stages", "exec.tasks",
    "scan.input_bytes", "scan.input_records", "shuffle.write_bytes",
    "shuffle.read_bytes", "shuffle.fetch_wait_s", "spill.disk_bytes",
    "jvm.gc_s", "exec.cpu_over_run") ++
    Families.flatMap(f => Seq(s"$f.wall_s", s"$f.task_cpu_s")) ++ Seq(
    "index.build_wall_s", "index.build_s", "index.build_cpu_s", "index.builds",
    "stream.batches", "stream.add_batch_s", "stream.wal_commit_s",
    "stream.query_planning_s", "stream.state_commit_s", "stream.state_rows",
    "setup.session_s", "setup.warm_s", "trace.overhead_s",
    "host.steal_share", "pass.raw_wall_s")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  private def layerOf(p: Pass): Map[String, Double] = {
    val t = Probe.total(p.counters.values)
    def cpu(g: String) = p.counters.get(g).map(_.cpuNs / 1e9).getOrElse(0.0)
    val planned = p.ops.flatMap(_.plan)
    val fam = Families.flatMap { f =>
      val ops = p.ops.filter(o => Workloads.familyOf.get(o.name).contains(f))
      val names = ops.map(_.name).toSet
      Seq(s"$f.wall_s" -> ops.map(_.wall).sum,
        s"$f.task_cpu_s" -> names.toSeq.map(cpu).sum)
    }
    val st = p.streams.values
    def ss(f: StreamCounters => Long, scale: Double = 1.0) = st.map(f).sum / scale
    val tokens = p.layer.getOrElse("wordcount.tokens", 0.0)
    val wcShuffled = p.counters.get("wc.count").map(_.shWriteRecords.toDouble).getOrElse(0.0)
    p.layer ++ fam ++ Map(
      "wordcount.task_cpu_s" -> cpu("wc.count"),
      "wordcount.combine_ratio" -> (if (tokens > 0) wcShuffled / tokens else 0.0),
      "plan.prepare_s" -> planned.map(_._1).sum,
      "plan.exchanges" -> planned.map(_._2).sum.toDouble,
      "plan.scans" -> planned.map(_._3).sum.toDouble,
      "exec.jobs" -> t.jobs.toDouble, "exec.stages" -> t.stages.toDouble,
      "exec.tasks" -> t.tasks.toDouble,
      "scan.input_bytes" -> t.inBytes.toDouble, "scan.input_records" -> t.inRecords.toDouble,
      "shuffle.write_bytes" -> t.shWriteBytes.toDouble,
      "shuffle.read_bytes" -> t.shReadBytes.toDouble,
      "shuffle.fetch_wait_s" -> t.fetchWaitMs / 1e3,
      "spill.disk_bytes" -> t.spillDiskBytes.toDouble,
      "jvm.gc_s" -> p.gcSec,
      "exec.cpu_over_run" -> (if (t.runNs > 0) t.cpuNs.toDouble / t.runNs else 0.0),
      "index.build_cpu_s" -> cpu("build"),
      "stream.batches" -> ss(_.batches),
      "stream.add_batch_s" -> ss(_.addBatchMs, 1e3),
      "stream.wal_commit_s" -> ss(_.walCommitMs, 1e3),
      "stream.query_planning_s" -> ss(_.planningMs, 1e3),
      "stream.state_commit_s" -> ss(_.stateCommitMs, 1e3),
      "stream.state_rows" -> ss(_.stateRows))
  }

  def apply(workload: String, sessionS: Double, warmS: Double, warm: Pass,
      passes: Seq[Pass], calibStart: Double, calibEnd: Double,
      loads: Seq[Double], steal: Double, peakRssMb: Double,
      dumped: collection.Map[String, String]): Map[String, Any] = {
    val cores = Session.cores
    val plain = passes.filter(!_.traced)
    val traced = passes.filter(_.traced)
    val opWalls = plain.flatMap(_.ops.map(_.wall))
    val cpuOf = (p: Pass) => Probe.total(p.counters.values).cpuNs / 1e9
    val endToEnd = Map(
      "setup_s" -> (sessionS + warmS),
      "pass_wall_s" -> median(plain.map(_.wall)),
      "op_p50_s" -> median(opWalls),
      "task_cpu_s" -> median(plain.map(cpuOf)),
      "peak_rss_mb" -> peakRssMb)
    val layer: Map[String, Double] =
      if (traced.isEmpty) Map.empty
      else {
        val per = traced.map(layerOf)
        val fixed = Map("setup.session_s" -> sessionS, "setup.warm_s" -> warmS,
          "trace.overhead_s" -> (median(traced.map(_.wall)) - median(plain.map(_.wall))),
          "host.steal_share" -> steal,
          "pass.raw_wall_s" -> median(traced.map(_.rawWall)))
        collection.immutable.ListMap(LayerNames.map(n => n -> fixed.getOrElse(n,
          per.map(_.getOrElse(n, 0.0)).sum / per.size)): _*)
      }
    // at least ten samples above the 90th percentile
    val p90 = if (opWalls.size >= 100) Some(percentile(opWalls, 0.9)) else None
    val drift = if (calibStart > 0) math.abs(calibEnd / calibStart - 1) else 0.0
    val reasons =
      (if (loads.exists(_ > cores)) Seq(f"1-min loadavg ${loads.max}%.2f above $cores cores") else Nil) ++
      (if (drift > 0.15) Seq(f"calibration spin drifted ${drift * 100}%.0f%%") else Nil) ++
      (if (steal > 0.1) Seq(f"hypervisor took ${steal * 100}%.0f%% of CPU time") else Nil)
    val timedOps = passes.flatMap(_.ops)
    Map(
      "workload" -> workload,
      "cores" -> cores,
      "end_to_end" -> endToEnd,
      "per_layer" -> layer,
      "op_p90_s" -> p90.getOrElse(-1.0),
      "op_samples" -> opWalls.size,
      "op_median_s" -> plain.flatMap(_.ops).groupBy(_.name)
        .map { case (k, v) => k -> median(v.map(_.wall)) },
      "pass_raw_wall_s" -> median(plain.map(_.rawWall)),
      "passes" -> passes.map(p => Map("wall_s" -> p.wall, "raw_wall_s" -> p.rawWall,
        "traced" -> p.traced,
        "task_cpu_s" -> cpuOf(p), "ops" -> p.ops.size)),
      "warm_ok" -> warm.ops.forall(_.ok),
      "attempted" -> timedOps.size,
      "ops_per_query" -> timedOps.groupBy(_.name).map { case (k, v) => k -> v.size },
      "failed_per_query" -> timedOps.groupBy(_.name)
        .map { case (k, v) => k -> v.count(!_.ok) },
      "warm_failed" -> warm.ops.filter(!_.ok).map(_.name).distinct,
      "rows" -> warm.ops.map(o => o.name -> o.rows).toMap,
      "dumped" -> dumped.toMap,
      "oracle_sql" -> graft.SparkEntry.oracleSql.filter { case (k, _) => dumped.contains(k) },
      "calibration_s" -> Map("start" -> calibStart, "end" -> calibEnd),
      "loadavg_max" -> (if (loads.isEmpty) -1.0 else loads.max),
      "steal_share" -> steal,
      "contaminated" -> reasons.nonEmpty,
      "contamination" -> reasons)
  }

  /** Scala maps and sequences → Java collections, for Jackson. */
  def toJava(v: Any): Any = v match {
    case m: collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case x => x
  }
}
