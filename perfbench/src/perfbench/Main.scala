package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One op as measured: wall time, Java-thread CPU and process CPU seconds. */
final case class OpRecord(id: Long, pass: Int, name: String, wallS: Double, cpuS: Double,
    procCpuS: Double, assignments: Long, iterations: Int, buildS: Double, c: OpCounters,
    error: Option[String])

/** Benchmark entry: one workload per JVM, one driver thread issuing ops
  * back to back (closed loop, one client) on local[nproc].
  *
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --expected FILE --work DIR --trace-dir DIR [--size tiny] [--corrupt]
  *
  * With --trace 0 the last stdout line carries the end-to-end metrics,
  * with --trace 1 the per-layer metrics (and the span tree goes to
  * <trace-dir>/trace-W-sN.json).
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap ++ argv.filter(a => a == "--corrupt").map(_.drop(2) -> "1")
    def arg(k: String): String = args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val tiny = args.get("size").contains("tiny")
    val corrupt = args.contains("corrupt")
    val work = Paths.get(arg("work")).toAbsolutePath
    Files.createDirectories(work)

    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", work.resolve("spark").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer(traced)
    tracer.install(spark)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val sessionCpuS = Cpu.s

    val ctx = Ctx(spark, seed, tiny, corrupt, Paths.get(arg("data")), work,
      Expected.load(Paths.get(arg("expected"))))
    val wl = Workloads(workload, ctx)

    val prepare = (0 until (if (tiny) 1 else 3)).map { rep =>
      val (t0, c0) = (System.nanoTime(), Cpu.s)
      wl.prepare(rep)
      ((System.nanoTime() - t0) / 1e9, Cpu.s - c0)
    }
    val prepareS = prepare.map(_._1)
    wl.reference()

    val records = mutable.ArrayBuffer.empty[OpRecord]
    var nextOp = 1L
    def runPass(pass: Int): Seq[OpRecord] = wl.ops(pass).map { op =>
      val id = nextOp; nextOp += 1
      tracer.beginOp(id)
      val start = Clock.nowMs
      val (t0, p0, th0) = (System.nanoTime(), Cpu.s, Cpu.threads())
      val outcome = try Right(op.run(tracer)) catch { case e: Throwable => Left(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = Cpu.threadsSince(th0)
      val procCpu = Cpu.s - p0
      val c = tracer.endOp(id, op.name, start, Clock.nowMs)
      val error = outcome match {
        case Left(e) => Some(s"threw ${e.toString.take(300)}")
        case Right(o) => try o.check() catch { case e: Throwable => Some(s"check threw $e") }
      }
      error.foreach(m => System.err.println(s"perfbench: op ${op.name} (pass $pass) failed: $m"))
      val buildS = tracer.spans.synchronized {
        tracer.spans.filter(s => s.op == id && s.layer == "queries" && s.name == "build")
          .map(s => (s.end - s.start) / 1e3).sum
      }
      val o = outcome.toOption
      OpRecord(id, pass, op.name, wall, cpu, procCpu, o.map(_.assignments).getOrElse(0L),
        o.map(_.iterations).getOrElse(0), buildS, c, error)
    }

    val warm = runPass(-1)
    records ++= warm
    val setupS = sessionS + Stats.median(prepareS) + warm.map(_.wallS).sum
    val setupCpuS = sessionCpuS + Stats.median(prepare.map(_._2)) + warm.map(_.procCpuS).sum

    val measureStart = System.nanoTime()
    var pass = 0
    while ((System.nanoTime() - measureStart) / 1e9 < seconds) {
      records ++= runPass(pass)
      pass += 1
    }
    val measured = records.filter(_.pass >= 0).toSeq
    val passes = measured.groupBy(_.pass).toSeq.sortBy(_._1).map(_._2)

    System.gc(); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val attempted = records.size
    val failed = records.count(_.error.isDefined)
    val opWalls = measured.map(_.wallS)
    val passS = Stats.median(passes.map(_.map(_.wallS).sum))
    val passCpuS = Stats.median(passes.map(_.map(_.cpuS).sum))
    val opCpu = Stats.median(measured.map(_.cpuS))
    val lloydOps = measured.filter(_.iterations > 0)
    val pointsPerS =
      if (lloydOps.isEmpty) 0.0 else lloydOps.map(_.assignments).sum / lloydOps.map(_.wallS).sum

    val out = new StringBuilder
    def line(kind: String, name: String, v: Double, unit: String, note: String = ""): Unit =
      out ++= f"$kind%-6s $name%-26s ${Stats.fmt(v)}%14s $unit%-9s $note%n"
    out ++= s"perfbench workload=$workload seed=$seed trace=${if (traced) 1 else 0} " +
      s"cpus=$cpus passes=${passes.size} ops=${measured.size}\n"
    line("e2e", "setup_s", setupCpuS, "s",
      s"process CPU: session + median prepare of ${prepare.size} + warm-up pass")
    line("e2e", "pass_cpu_s", passCpuS, "s", s"Java-thread CPU, median of ${passes.size} passes")
    line("info", "op_cpu_p50_s", opCpu, "s", s"Java-thread CPU, n=${measured.size}")
    line("info", "pass_process_cpu_s", Stats.median(passes.map(_.map(_.procCpuS).sum)), "s",
      "all threads, JIT and GC included")
    line("e2e", "heap_live_mb", heapMb, "MB", "after full GC")
    line("e2e", "fail_ratio", failed.toDouble / attempted, "ratio", s"failed=$failed attempted=$attempted")
    line("wall", "setup_wall_s", setupS, "s", f"session $sessionS%.3f + median prepare + warm-up pass")
    line("wall", "pass_s", passS, "s", s"median of ${passes.size} passes")
    line("wall", "op_p50_s", Stats.median(opWalls), "s", s"n=${opWalls.size}")
    Stats.tail(opWalls) match {
      case Some((pct, v)) => line("wall", "op_tail_s", v, "s", f"p$pct%.1f, n=${opWalls.size}")
      case None => out ++= s"wall   op_tail_s omitted: ${opWalls.size} ops leave fewer than 10 beyond any percentile\n"
    }
    if (lloydOps.nonEmpty) line("wall", "points_per_s", pointsPerS, "points/s")
    measured.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, rs) =>
      line("op", n, Stats.median(rs.map(_.wallS)), "s",
        f"median wall of ${rs.size}, CPU ${Stats.median(rs.map(_.cpuS))}%.3f s" +
          (if (rs.exists(_.iterations > 0)) s", iterations ${rs.map(_.iterations).mkString(",")}" else ""))
    }

    val json =
      if (!traced) {
        Stats.json(Seq(("setup_s", setupCpuS, "s"), ("pass_cpu_s", passCpuS, "s"),
          ("heap_live_mb", heapMb, "MB")))
      } else {
        val layer = Layers.metrics(passes, passS, passCpuS, work.toString, tracer)
        layer.foreach { case (n, v, u) => line("layer", n, v, u) }
        Layers.writeTrace(Paths.get(arg("trace-dir")).resolve(s"trace-$workload-s$seed.json"),
          workload, seed, tracer, records.toSeq, layer)
        Stats.json(layer)
      }
    print(out)
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": $json}""")
    System.out.flush()
    spark.stop()
  }
}

/** CPU time of this JVM. */
object Cpu {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val tmx = ManagementFactory.getThreadMXBean

  /** Process CPU seconds so far, all threads including JIT and GC. */
  def s: Double = os.getProcessCpuTime / 1e9

  /** CPU nanoseconds of each live Java thread (driver, task, Spark
    * service threads; not the JIT-compiler or GC threads).
    */
  def threads(): Map[Long, Long] =
    tmx.getAllThreadIds.map(id => id -> tmx.getThreadCpuTime(id)).filter(_._2 >= 0).toMap

  /** Java-thread CPU seconds since `before`. A thread that started and
    * ended in between is not seen.
    */
  def threadsSince(before: Map[Long, Long]): Double =
    threads().map { case (id, t) => t - before.getOrElse(id, 0L) }.sum / 1e9
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** The highest percentile with at least ten samples beyond it. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 11) None
    else {
      val s = xs.sorted
      val i = s.size - 11
      Some(((i + 1) * 100.0 / s.size, s(i)))
    }

  def fmt(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) f"$v%.0f" else f"$v%.6f"

  def json(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString("{", ", ", "}")

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v).replace("E", "e")
}

/** Expected canonical row hashes: {"sf0.01": {"query": {"rows": n, "sha256": h}}}. */
object Expected {
  def load(p: java.nio.file.Path): Map[String, Map[String, (Long, String)]] = {
    import scala.jdk.CollectionConverters._
    if (!Files.isRegularFile(p)) return Map.empty
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.toFile)
    root.fields().asScala.map { scale =>
      scale.getKey -> scale.getValue.fields().asScala.map { q =>
        q.getKey -> (q.getValue.get("rows").asLong, q.getValue.get("sha256").asText)
      }.toMap
    }.toMap
  }
}

/** Writes the DuckDB oracle SQL of the sql_mix queries as JSON, for
  * perfbench/make_expected.py: `perfbench.OracleDump <file>`.
  */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = Workloads.SqlMix.map(n => s"${q(n)}: ${sql.get(n).map(q).getOrElse("null")}")
      .mkString("{\n", ",\n", "\n}\n")
    Files.writeString(Paths.get(args(0)), json)
  }
}
