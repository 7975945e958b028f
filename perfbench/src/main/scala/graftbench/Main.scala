package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.gen.Fixtures

/** One benchmark run in one JVM: set-up, warm-up until the CPU cost of an
 * operation stops falling, whole operations for the requested seconds, then
 * the output checks. Writes result.json (and spans.jsonl when traced) into --run-dir;
 * run.py turns that into the benchmark's result line.
 *
 * Usage: Main --workload W --seed N --seconds S --trace 0|1 --state DIR
 *             --run-dir DIR --threads T [--prepare]
 */
object Main {
  /** Fixture scale: the tag graft.gen.Fixtures keys its tables by. */
  val Scale = "sf0.01"
  /** tile-kernels replicas of the tiles table per pass. */
  val Replicas = 2
  /** Operations that always precede the first timed one. */
  val MinWarmRounds = 2
  /** Warm-up ends at the first operation that costs at least this share of the
   * CPU of the cheapest one before it: within a run, settled operations of the
   * same code differ by about 4 %. */
  val Settled = 0.90
  /** A safety stop, in seconds since JVM start, so that a warm-up that never
   * settles still leaves the run time to finish; a run cut here says so. */
  val WarmDeadlineS = 110.0

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      state: Path, runDir: Path, threads: Int, prepare: Boolean)

  def parse(argv: Array[String]): Args = {
    val m = mutable.Map.empty[String, String]
    var i = 0
    while (i < argv.length) {
      if (argv(i) == "--prepare") { m("prepare") = "1"; i += 1 }
      else { m(argv(i).stripPrefix("--")) = argv(i + 1); i += 2 }
    }
    Args(m.getOrElse("workload", ""), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toDouble, m.getOrElse("trace", "0") == "1",
      Paths.get(m("state")).toAbsolutePath, Paths.get(m("run-dir")).toAbsolutePath,
      m.getOrElse("threads", "4").toInt, m.contains("prepare"))
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else d.toString

  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")

  private def markerText(sfDir: String): String =
    Env.fixtureMarker(sfDir).map(p => Files.readString(p)).getOrElse("")

  /** What the JVM spent during one operation besides its Java threads' CPU. */
  final case class JvmCost(processCpu: Double, jit: Double, gc: Double, heapPeakMb: Double,
      codegenCompiles: Long)

  /** The label of operation r's jobs; op index parsed back by [[opIndex]]. */
  def opLabel(r: Int, part: String): String = s"op$r|$part"

  def opIndex(label: String): Int =
    if (!label.startsWith("op")) -1
    else label.drop(2).takeWhile(_.isDigit).toIntOption.getOrElse(-1)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.runDir)
    val programRoot = Env.redirectFixtures(a.state.resolve("fixtures").toString)
    val tracer = new Tracer(a.trace)
    val ctx = new Ctx(a, tracer)
    val before = markerText(ctx.sfDir)

    if (a.prepare) {
      val t0 = System.nanoTime()
      ctx.spark = Env.session(a.threads, a.state)
      Fixtures.ensure(ctx.spark, ctx.sfDir)
      ctx.spark.stop()
      Files.writeString(a.runDir.resolve("result.json"), obj(Seq(
        "regenerated" -> (markerText(ctx.sfDir) != before).toString,
        "prepare_s" -> num((System.nanoTime() - t0) / 1e9))))
      return
    }

    // set-up: from JVM start to a session with verified fixtures. One per run:
    // a second one in the warm JVM (new session, re-fingerprinting) costs ~7 s
    // that the run budget does not hold. setup_s is the CPU the JVM spent on it;
    // its wall time is kept in the record, since on a shared host it moved by
    // half between runs of the same code.
    ctx.spark = tracer.span("spark.session")(Env.session(a.threads, a.state))
    val sessionS = (System.currentTimeMillis() - Env.jvmStartMillis) / 1e3
    val e0 = System.nanoTime()
    tracer.span("gen.ensure")(Fixtures.ensure(ctx.spark, ctx.sfDir))
    val ensureS = (System.nanoTime() - e0) / 1e9
    val setupCpuS = Env.processCpuSeconds()
    val regenerated = markerText(ctx.sfDir) != before
    val probe = if (a.trace) Some(Probe.install(ctx.spark)) else None

    val w = Workloads(a.workload, ctx)
    ctx.label("prepare")
    w.prepare()

    val ops = mutable.ArrayBuffer.empty[OpRec]
    val costs = mutable.ArrayBuffer.empty[JvmCost]
    def runOp(): OpRec = {
      val r = ops.length
      val c0 = Env.processCpuSeconds(); val j0 = Env.jitSeconds(); val gc0 = Env.gcSeconds()
      val g0 = Env.codegenCompiles()
      Env.resetHeapPeak()
      val t0 = Env.threadCpu()
      val o = tracer.span("bench.op", s"op$r")(w.op(r)).copy(index = r, cpu = Env.threadCpuSince(t0))
      val cost = JvmCost(Env.processCpuSeconds() - c0, Env.jitSeconds() - j0, Env.gcSeconds() - gc0,
        Env.heapPeakMb(), Env.codegenCompiles() - g0)
      System.err.println(f"op $r: ok ${o.ok}, wall ${o.wall}%.2f s, threads cpu ${o.cpu}%.2f s, " +
        f"process cpu ${cost.processCpu}%.2f s, jit ${cost.jit}%.2f s, " +
        s"codegen compiles ${cost.codegenCompiles}")
      ops += o; costs += cost
      o
    }

    // warm-up: whole operations until one costs at least Settled x the CPU of
    // the cheapest before it, with at least MinWarmRounds before it. That one
    // shows the cost has stopped falling and is the first timed operation.
    var best = Double.MaxValue
    var settled = false
    while (!settled && (System.currentTimeMillis() - Env.jvmStartMillis) / 1e3 < WarmDeadlineS) {
      val o = runOp()
      settled = ops.length > MinWarmRounds && o.cpu >= Settled * best
      best = math.min(best, o.cpu)
    }
    val timedFrom = if (settled) ops.length - 1 else ops.length
    // timed: whole operations until their wall seconds reach --seconds
    while (ops.length <= timedFrom || ops.drop(timedFrom).map(_.wall).sum < a.seconds) runOp()
    val timed = ops.drop(timedFrom).toSeq
    val timedCost = costs.drop(timedFrom).toSeq
    val warmupS = ops.take(timedFrom).map(_.wall).sum
    val n = timed.length.toDouble
    val wallSum = timed.map(_.wall).sum
    val isTimed: String => Boolean = l => opIndex(l) >= timedFrom
    val timedSpans: Set[String] = (timedFrom until ops.length).map(r => s"op$r").toSet

    val metrics: Map[String, Double] =
      if (!a.trace) Map(
        "setup_s" -> setupCpuS,
        "setup_wall_s" -> (sessionS + ensureS),
        "ops_per_s" -> n / wallSum,
        "op_s_p50" -> median(timed.map(_.wall)),
        "op_cpu_s" -> median(timed.map(_.cpu)))
      else {
        val p = probe.get
        p.drain(ctx.spark)
        val ts = p.tasks(isTimed)
        val plans = p.plans(isTimed)
        val idle = timed.map(o => Probe.idleMs(o.startMs, o.endMs,
          ts.filter(t => t.finishMs >= o.startMs && t.launchMs <= o.endMs))).sum / 1e3
        val self = tracer.selfSeconds("bench.op", timedSpans)
        def spanS(name: String) = tracer.seconds("bench.op", timedSpans, name) / n
        Map(
          "gen.ensure_s" -> ensureS,
          "spark.session_s" -> sessionS,
          "plan.build_s" -> spanS("plan.build"),
          "plan.physical_s" -> spanS("plan.physical"),
          "plan.codegen_fallbacks" -> plans.map(_.fallbacks).sum / n,
          "plan.codegen_compiles" -> timedCost.map(_.codegenCompiles).sum / n,
          "exec.warmup_s" -> warmupS,
          "exec.warmup_rounds" -> timedFrom.toDouble,
          "exec.jobs" -> p.jobs(isTimed) / n,
          "exec.stages" -> p.stages(isTimed) / n,
          "exec.tasks" -> ts.length / n,
          "exec.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9 / n,
          "exec.task_run_s" -> ts.map(_.runMs).sum / 1e3 / n,
          "exec.idle_s" -> idle / n,
          "exec.core_busy" -> ts.map(_.runMs).sum / 1e3 / wallSum,
          "exec.spill_bytes" -> ts.map(_.spill).sum / n,
          "scan.input_bytes" -> ts.map(_.inBytes).sum / n,
          "scan.records" -> ts.map(_.inRecords).sum / n,
          "exchange.shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum / n,
          "exchange.shuffle_read_bytes" -> ts.map(_.shuffleRead).sum / n,
          "exchange.fetch_wait_s" -> ts.map(_.fetchWaitMs).sum / 1e3 / n,
          "exchange.broadcast_bytes" -> plans.map(_.broadcastBytes).sum / n,
          "exchange.broadcast_build_s" -> plans.map(_.broadcastBuildMs).sum / 1e3 / n,
          "jvm.gc_s" -> timedCost.map(_.gc).sum / n,
          "jvm.jit_s" -> timedCost.map(_.jit).sum / n,
          "jvm.cpu_s" -> timedCost.map(_.processCpu).sum / n,
          "jvm.heap_peak_mb" -> timedCost.map(_.heapPeakMb).max,
          "trace.op_s" -> wallSum / n,
          "trace.timed_s" -> spanS("bench.op")) ++
          self.map { case (layer, s) => s"trace.self_s.$layer" -> s / n } ++
          w.layers(timed, p, isTimed)
      }

    ctx.label("check")
    val fin = try w.finish(timed) catch {
      case NonFatal(e) => Finish(timed.map(_.label).toSet, Seq(s"output checks threw $e"), Map.empty)
    }
    tracer.writeJsonl(a.runDir.resolve("spans.jsonl"))
    val oracleSql = graft.SparkEntry.oracleSql
    val oracle = fin.oracle.map { case (key, (out, labels)) =>
      key -> obj(Seq("output" -> q(out.toString), "sql" -> q(oracleSql(key)),
        "labels" -> labels.toSeq.sorted.map(q).mkString("[", ",", "]")))
    }
    val timedJson = timed.map(o => obj(Seq("label" -> q(o.label), "wall" -> num(o.wall),
      "cpu" -> num(o.cpu), "ok" -> o.ok.toString, "note" -> q(o.note))))
    val result = obj(Seq(
      "workload" -> q(a.workload),
      "seed" -> a.seed.toString,
      "threads" -> a.threads.toString,
      "heap_max_mb" -> num(Runtime.getRuntime.maxMemory / 1e6),
      "regenerated" -> regenerated.toString,
      "fixtures" -> q(Fixtures.dir(ctx.sfDir)),
      "oracle_fixtures" -> q(s"$programRoot/$Scale"),
      "warmup_rounds" -> timedFrom.toString,
      "warmup_s" -> num(warmupS),
      "warmup_settled" -> settled.toString,
      "op_cpu" -> ops.map(o => num(o.cpu)).mkString("[", ",", "]"),
      "ops" -> timedJson.mkString("[", ",", "]"),
      "failed_labels" -> fin.failedLabels.toSeq.sorted.map(q).mkString("[", ",", "]"),
      "notes" -> fin.notes.map(q).mkString("[", ",", "]"),
      "oracle" -> obj(oracle.toSeq.sortBy(_._1)),
      "metrics" -> obj(metrics.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })))
    Files.writeString(a.runDir.resolve("result.json"), result)
    ctx.spark.stop()
  }
}
