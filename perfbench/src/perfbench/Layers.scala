package perfbench

import java.nio.file.{Files, Path}

/** Per-layer metrics of a traced run, derived from the span tree and the
  * per-op counters. Each metric is computed per measured pass and the
  * median over passes is reported; staging totals cover the whole run,
  * because staged artifacts are built once, in the warm-up pass.
  */
object Layers {
  private val MB = 1048576.0

  /** Union length of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var end = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  /** Driver self time of an op: wall time not covered by any Spark job. */
  def driverSelfS(r: OpRecord, span: Span): Double =
    math.max(0.0, r.wallS - covered(r.c.jobIntervals.toSeq, span.start, span.end) / 1e3)

  def jobWallS(r: OpRecord, span: Span): Double =
    covered(r.c.jobIntervals.toSeq, span.start, span.end) / 1e3

  private def perPass(ops: Seq[OpRecord], opSpan: Long => Span): Seq[(String, Double, String)] = {
    def sum(f: OpRecord => Double): Double = ops.map(f).sum
    def c(f: OpCounters => Long): Double = ops.map(o => f(o.c).toDouble).sum
    val lloyd = ops.filter(_.iterations > 0)
    val iters = lloyd.map(_.iterations).sum.toDouble
    def perIter(f: OpRecord => Double): Double = if (iters == 0) 0.0 else lloyd.map(f).sum / iters
    Seq(
      ("queries.build_s", sum(_.buildS), "s"),
      ("sources.rows_read", c(_.rowsRead), "count"),
      ("sources.bytes_read", c(_.bytesRead), "B"),
      ("sources.bytes_written", c(_.bytesWritten), "B"),
      ("sources.files_written", c(_.filesWritten), "count"),
      ("plans.analysis_s", c(_.analysisMs) / 1e3, "s"),
      ("plans.optimization_s", c(_.optimizationMs) / 1e3, "s"),
      ("plans.planning_s", c(_.planningMs) / 1e3, "s"),
      ("plans.actions", c(_.actions), "count"),
      ("codegen.compiles", c(_.compiles), "count"),
      ("codegen.compile_s", c(_.compileMs) / 1e3, "s"),
      ("codegen.source_kb", c(_.sourceBytes) / 1024.0, "KB"),
      ("exec.jobs", c(_.jobs), "count"),
      ("exec.stages", c(_.stages), "count"),
      ("exec.tasks", c(_.tasks), "count"),
      ("exec.job_wall_s", sum(o => jobWallS(o, opSpan(o.id))), "s"),
      ("exec.task_s", c(_.taskMs) / 1e3, "s"),
      ("exec.task_cpu_s", c(_.cpuNs) / 1e9, "s"),
      ("exec.gc_s", c(_.gcMs) / 1e3, "s"),
      ("exec.shuffle_read_mb", c(_.shuffleRead) / MB, "MB"),
      ("exec.shuffle_write_mb", c(_.shuffleWrite) / MB, "MB"),
      ("exec.spill_mb", c(_.spill) / MB, "MB"),
      ("exec.peak_mem_mb", ops.map(_.c.peakMem).foldLeft(0L)(math.max) / MB, "MB"),
      ("exec.result_mb", c(_.resultBytes) / MB, "MB"),
      ("driver.self_s", sum(o => driverSelfS(o, opSpan(o.id))), "s"),
      ("lloyd.iterations", iters, "count"),
      ("lloyd.jobs_per_iter", perIter(_.c.jobs.toDouble), "count"),
      ("lloyd.compiles_per_iter", perIter(_.c.compiles.toDouble), "count"),
      ("lloyd.driver_s_per_iter", perIter(o => driverSelfS(o, opSpan(o.id))), "s"),
      ("lloyd.exec_s_per_iter", perIter(o => jobWallS(o, opSpan(o.id))), "s"),
      ("lloyd.points_per_s",
        if (lloyd.isEmpty) 0.0 else lloyd.map(_.assignments).sum / lloyd.map(_.wallS).sum, "points/s"),
      ("streaming.batches", c(_.batches), "count"),
      ("streaming.input_rows", c(_.inputRows), "count"),
      ("streaming.state_rows", c(_.stateRows), "count"),
      ("streaming.batch_s", c(_.batchMs) / 1e3, "s"))
  }

  /** Median over passes of each per-pass metric, plus the run's staging
    * totals and the traced pass wall and CPU time (compare with an
    * untraced run's pass_s and pass_cpu_s for the tracing overhead).
    */
  def metrics(passes: Seq[Seq[OpRecord]], passS: Double, passCpuS: Double, workDir: String,
      tracer: Tracer): Seq[(String, Double, String)] = {
    val opSpans = tracer.spans.synchronized {
      tracer.spans.filter(_.layer == "op").map(s => s.op -> s).toMap
    }
    val vectors = passes.map(ops => perPass(ops, opSpans))
    val med = vectors.head.indices.map { i =>
      val (n, _, u) = vectors.head(i)
      (n, Stats.median(vectors.map(_(i)._2)), u)
    }
    val staged = graft.sources.StagedLayouts.stagingSeconds.filter(_._1.contains(workDir))
    val (before, after) = med.splitAt(1)
    before ++ Seq(
      ("sources.staging_s", staged.values.sum, "s"),
      ("sources.staged_builds", staged.size.toDouble, "count")) ++ after ++
      Seq(("trace.pass_s", passS, "s"), ("trace.pass_cpu_s", passCpuS, "s"))
  }

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Writes the span tree, the op list and the per-layer metrics. */
  def writeTrace(path: Path, workload: String, seed: Long, tracer: Tracer,
      records: Seq[OpRecord], layer: Seq[(String, Double, String)]): Unit = {
    val sb = new StringBuilder
    sb ++= s"""{"workload": ${q(workload)}, "seed": $seed,\n"per_layer": ${Stats.json(layer)},\n"ops": [\n"""
    sb ++= records.map { r =>
      s"""{"op": ${r.id}, "pass": ${r.pass}, "name": ${q(r.name)}, "wall_s": ${Stats.num(r.wallS)}, """ +
        s""""iterations": ${r.iterations}, "jobs": ${r.c.jobs}, "compiles": ${r.c.compiles}, """ +
        s""""error": ${r.error.map(q).getOrElse("null")}}"""
    }.mkString(",\n")
    sb ++= "],\n\"spans\": [\n"
    sb ++= tracer.spans.synchronized(tracer.spans.toList).sortBy(s => (s.op, s.start)).map { s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, "layer": ${q(s.layer)}, """ +
        s""""name": ${q(s.name)}, "start_ms": ${Stats.num(s.start)}, "end_ms": ${Stats.num(s.end)}}"""
    }.mkString(",\n")
    sb ++= "]}\n"
    Files.createDirectories(path.getParent)
    Files.writeString(path, sb.toString)
  }
}
