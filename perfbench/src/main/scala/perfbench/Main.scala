package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.io.Source
import scala.util.Try

import org.apache.spark.sql.SparkSession

/**
 * Benchmark entry point:
 *
 *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *                  [--work <dir>]
 *
 * Generates the workload's inputs from the seed, sets the system up,
 * measures for `--seconds`, checks every operation's output, and prints
 * one JSON object as the last line of standard output.
 */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String)

  /** Executor cores of the `local[n]` session. */
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  /** Set-ups per run; `setup_s` is their median. The first starts with
    * the JVM, each later one stops the session and starts from a new one. */
  val SetupRounds = 3

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", m.getOrElse("work", ".bench_work/run"))
  }

  def workload(name: String, work: String, seed: Long): Workload = name match {
    case "corpus_ingest" => new CorpusIngest(work, seed)
    case "mention_feed" => new MentionFeed(work, seed)
    case "search_serve" => new SearchServe(work, seed)
    case "corpus_curate" => new CorpusCurate(work, seed)
    case other => sys.error(s"unknown workload $other")
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .withExtensions(new graft.plans.GraftExtensions)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(a.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Process high-water resident memory, MB (VmHWM). */
  def peakRssMb(): Double =
    Try {
      val src = Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toDouble / 1024
      finally src.close()
    }.getOrElse(Runtime.getRuntime.totalMemory / 1048576.0)

  /** Cumulative CPU jiffies (user, nice, system, idle, iowait, irq,
    * softirq, steal) from /proc/stat: the run reports the stolen share,
    * a noisy-host diagnostic printed beside the result. */
  def cpuTicks(): Array[Long] =
    Try {
      val src = Source.fromFile("/proc/stat")
      try src.getLines().next().split("\\s+").drop(1).take(8).map(_.toLong)
      finally src.close()
    }.getOrElse(Array.fill(8)(0L))

  def main(argv: Array[String]): Unit = {
    val ticks0 = cpuTicks()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val jvmBoot = (System.currentTimeMillis - jvmStartMs) / 1000.0
    val a = parse(argv)
    val workDir = new File(a.work)
    Io.deleteRecursively(workDir)
    workDir.mkdirs()
    val w = workload(a.workload, workDir.getPath, a.seed)

    val (_, genSeconds) = Io.time(w.generate())
    // Set-up: session start to ready (the first round from JVM start).
    // Writing Spark-made inputs is excluded.
    var spark: SparkSession = null
    var sparkGenSeconds = 0.0
    val setups = (1 to SetupRounds).map { round =>
      if (spark != null) stop(spark)
      val t0 = System.nanoTime()
      spark = session(a)
      if (round == 1) sparkGenSeconds = Io.time(w.generateWithSpark(spark))._2
      w.prepare(spark)
      w.warmup(spark)
      (System.nanoTime() - t0) / 1e9 + (if (round == 1) jvmBoot - sparkGenSeconds else 0.0)
    }
    val setupS = Oracle.percentile(setups, 50)
    val setupCpu = Io.cpuSeconds()

    val (ops, metrics, extra) =
      if (!a.trace) {
        val t0 = System.nanoTime()
        val ops = w.measure(spark, a.seconds)
        val wall = w match {
          case s: SearchServe => s.lastWall
          case _ => (System.nanoTime() - t0) / 1e9
        }
        val secs = ops.map(_.seconds)
        val m = Seq(
          "setup_s" -> setupS,
          "op_s.p50" -> Oracle.percentile(secs, 50),
          "op_cpu_s.p50" -> Oracle.percentile(ops.map(_.cpuSeconds), 50),
          "output_mb" -> Oracle.percentile(ops.map(_.outputBytes / 1048576.0), 50))
        val opsPerS = w match {
          case _: SearchServe => ops.size / wall
          case _ => ops.size / secs.sum
        }
        // The highest wall-latency percentile with at least 10
        // operations beyond it, if the run completed enough.
        val latency = Oracle.highestSupportedPercentile(secs.size).filter(_ > 50).toSeq
          .map(p => s"op_s.p$p" -> Json.num(Oracle.percentile(secs, p)))
        (ops, m, latency ++ Seq("ops_per_s" -> Json.num(opsPerS), "op_seconds" -> Json.arr(secs.map(Json.num)),
          "op_cpu_seconds" -> Json.arr(ops.map(o => Json.num(o.cpuSeconds)))))
      } else {
        val tracer = new Tracer(spark)
        val tr = w.traced(spark, tracer, a.seconds)
        tracer.stop()
        writeSpans(a, tracer)
        val m = LayerReport(tracer, tr, Cores)
        (tr.ops, m, Seq("spans" -> Json.num(tracer.spans.size.toDouble)))
      }

    val failed = ops.count(_.failed)
    ops.filter(_.failed).take(5).foreach(o => System.err.println(s"[perfbench] failed: ${o.problems.mkString("; ")}"))
    val units = (Metrics.EndToEnd ++ Metrics.PerLayer).toMap
    println(Json.obj(Seq(
      "workload" -> Json.str(w.name),
      "seed" -> Json.num(a.seed.toDouble),
      "params" -> Json.obj(w.describe.map { case (k, v) => k -> Json.any(v) }),
      "generate_s" -> Json.num(genSeconds + sparkGenSeconds),
      "setup_s" -> Json.num(setupS),
      "setup_rounds_s" -> Json.arr(setups.map(Json.num)),
      "setup_cpu_s" -> Json.num(setupCpu),
      "peak_rss_mb" -> Json.num(peakRssMb()),
      "steal_frac" -> Json.num({
        val d = cpuTicks().zip(ticks0).map { case (a, b) => a - b }
        if (d.sum > 0) d(7).toDouble / d.sum else 0.0
      }),
      "ops" -> Json.num(ops.size.toDouble)) ++ extra))
    val result = Json.obj(Seq(
      "correct" -> (if (failed == 0) "true" else "false"),
      "attempted" -> ops.size.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(units(k))))
      })))
    stop(spark)
    Io.deleteRecursively(workDir)
    println(result)
    System.out.flush()
    System.exit(0)
  }

  private def writeSpans(a: Args, t: Tracer): Unit = {
    val dir = Paths.get(a.work).toAbsolutePath.getParent.resolve("traces")
    Files.createDirectories(dir)
    val self = Trace.selfNs(t.spans)
    val body = Json.arr(t.spans.map { s =>
      Json.obj(Seq("id" -> Json.num(s.id.toDouble), "name" -> Json.str(s.name),
        "parent" -> Json.num(s.parent.toDouble), "start_ns" -> Json.num(s.startNs.toDouble),
        "end_ns" -> Json.num(s.endNs.toDouble), "self_s" -> Json.num(self(s.id) / 1e9),
        "jobs" -> Json.num(s.counters.jobs.toDouble), "tasks" -> Json.num(s.counters.tasks.toDouble),
        "run_ms" -> Json.num(s.counters.runMs.toDouble),
        "gc_ms" -> Json.num(s.counters.gcMs.toDouble),
        "input_records" -> Json.num(s.counters.inputRecords.toDouble),
        "file_scan_records" -> Json.num(s.counters.fileScanRecords.toDouble),
        "spill_bytes" -> Json.num(s.counters.spillBytes.toDouble),
        "shuffle_bytes" -> Json.num((s.counters.shuffleReadBytes + s.counters.shuffleWriteBytes).toDouble),
        "records_written" -> Json.num(s.counters.recordsWritten.toDouble)))
    })
    Files.write(dir.resolve(s"${a.workload}-seed${a.seed}.json"), body.getBytes("UTF-8"))
  }
}

/** Per-layer metrics of a traced run. */
object LayerReport {
  def apply(t: Tracer, tr: Traced, cores: Int): Seq[(String, Double)] = {
    val spans = t.spans
    val self = Trace.selfNs(spans)
    def median(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Oracle.percentile(xs, 50)
    val byName = spans.groupBy(_.name)
    def rows(s: Span) = s.rows.getOrElse(s.counters.recordsWritten).toDouble
    def spanSelf(n: String): Double = {
      val v = median(byName.getOrElse(n, Nil).map(s => self(s.id) / 1e9))
      if (n == "curation.rest")
        math.max(0.0, v - spanSelf("curation.exact") - spanSelf("curation.minhash"))
      else v
    }
    val perSpan = Metrics.Spans.flatMap { n =>
      Seq(s"$n.self_s" -> spanSelf(n),
        s"$n.rows_out" -> median(byName.getOrElse(n, Nil).map(rows)))
    }
    val perGroup = Metrics.Groups.flatMap { g =>
      val ss = spans.filter(_.name.startsWith(g + "."))
      // Per-operation values: the search group averages over its queries.
      val n = if (g == "search") math.max(1, ss.size).toDouble else 1.0
      val c = new Counters
      ss.foreach(s => c.add(s.counters))
      val wallMs = Trace.coveredNs(ss.map(s => (s.startNs, s.endNs)), Long.MinValue, Long.MaxValue) / 1e6
      Seq(
        s"$g.self_s" -> ss.map(s => self(s.id)).sum / 1e9 / n,
        s"$g.rows_out" -> ss.map(rows).sum / n,
        s"$g.jobs" -> c.jobs / n,
        s"$g.tasks" -> c.tasks / n,
        s"$g.shuffle_mb" -> (c.shuffleReadBytes + c.shuffleWriteBytes) / 1048576.0 / n,
        s"$g.spill_mb" -> c.spillBytes / 1048576.0 / n,
        s"$g.busy_frac" -> (if (wallMs > 0) c.runMs / (wallMs * cores) else 0.0))
    }
    val ratios = Metrics.Ratios.map(_._1).map {
      case "engine.gc_s" => "engine.gc_s" -> t.engine.gcMs / 1000.0
      case "engine.spill_mb" => "engine.spill_mb" -> t.engine.spillBytes / 1048576.0
      case "trace.fused_s" => "trace.fused_s" -> tr.fusedSeconds
      case "trace.layers_s" => "trace.layers_s" -> tr.layerSeconds
      case "trace.overhead_frac" => "trace.overhead_frac" ->
        (if (tr.fusedSeconds > 0) tr.layerSeconds / tr.fusedSeconds - 1 else 0.0)
      case k => k -> tr.ratios.getOrElse(k, 0.0)
    }
    perGroup ++ perSpan ++ ratios
  }
}

/** Minimal JSON rendering (numbers keep all their digits). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def any(v: Any): String = v match {
    case d: Double => num(d)
    case i: Int => num(i.toDouble)
    case l: Long => num(l.toDouble)
    case s => str(s.toString)
  }
}
