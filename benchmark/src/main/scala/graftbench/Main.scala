package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/**
 * Benchmark JVM entry point. Usage:
 *
 *   graftbench.Main --workload search|write_read --seed N --seconds S
 *                   --trace 0|1 --scratch DIR --out FILE [--trace-out FILE]
 *
 * Writes one JSON object to FILE: correct, attempted, failed, and the raw
 * metric values (end-to-end with --trace 0, per-layer with --trace 1). All
 * generated data lives under DIR. A traced run writes its spans, one JSON
 * object per line, to the --trace-out file. Exits non-zero, naming the failed step, when
 * any step throws or a checker self-test fails.
 */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        scratch: String, out: String, traceOut: Option[String])

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("scratch"), need("out"), m.get("trace-out"))
  }

  private def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  /** Processor time of the whole JVM: every Spark, GC and compiler thread.
   * Time the host takes away from this machine's processors is not in it. */
  private def cpuMs: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e6
    case _ => throw new IllegalStateException("the JVM does not report its processor time")
  }

  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  private var currentStep = "arguments"
  private def step[T](name: String)(body: => T): T = { currentStep = name; body }
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val code = try { run(parse(args)); 0 } catch {
      case e: Throwable =>
        System.err.println(s"graftbench: step '$currentStep' failed: $e")
        e.printStackTrace()
        3
    }
    System.exit(code)
  }

  private def run(o: Opts): Unit = {
    step("checker self-test")(SelfTest.run())

    val t0 = System.nanoTime()
    val spark = step("session start")(graft.Fixtures.spark())
    val sessionS = secs(t0)
    try {
      val tracer = new Tracer(spark, o.trace)
      val ctx = new Ctx(spark, tracer, o.seed, o.scratch)
      val wl: Workload = o.workload match {
        case "search"     => new Search(ctx)
        case "write_read" => new WriteRead(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val tg = System.nanoTime()
      step("generate inputs")(wl.generate())
      val genS = secs(tg)
      val ts = System.nanoTime()
      step("set-up")(wl.setup())
      val setupS = sessionS + secs(ts)
      val tw = System.nanoTime()
      step("warm-up")(wl.warmup())
      val warmS = secs(tw)
      ctx.rec.reset(); tracer.startMeasuring()

      val gc0 = gcMs
      val cpu0 = cpuMs
      val tm = System.nanoTime()
      step("measure")(wl.measure(o.seconds))
      val elapsed = secs(tm)
      val cpu = cpuMs - cpu0
      val gc = gcMs - gc0
      tracer.drain()

      val tc = System.nanoTime()
      val problems = step("check answers")(wl.check()) ++ ctx.rec.failures.map("failed operation: " + _)
      val checkS = secs(tc)
      problems.take(20).foreach(p => System.err.println(s"graftbench: $p"))
      val rec = ctx.rec
      val p50s = wl.families.map(f => f -> rec.p50(f))
      System.err.println(s"graftbench: ${o.workload} seed ${o.seed}: ${rec.attempted} ops in " +
        f"$elapsed%.1f s (cpu ${cpu / 1000}%.1f s), setup $setupS%.2f s, gen $genS%.2f s, warm-up $warmS%.1f s, " +
        f"check $checkS%.1f s; p50 ms " +
        p50s.map { case (f, v) => f"$f=$v%.1f" }.mkString(" ") + "; by kind " +
        rec.kinds.map { case (k, xs) => f"$k=${Stats.median(xs)}%.1f(${xs.size})" }.mkString(" "))

      val opsPerS = rec.count / elapsed
      val latencyGeomean = Stats.geomean(rec.kindMedians.map(_._2))
      System.err.println(f"graftbench: ops_per_s $opsPerS%.3f, latency_ms_geomean $latencyGeomean%.1f")
      val metrics: Seq[(String, Double)] =
        if (!o.trace) Seq("setup_s" -> setupS, "cpu_ms_per_op" -> cpu / rec.count)
        else {
          val measured: Map[String, Double] =
            Map("ops_per_s" -> opsPerS, "latency_ms_geomean" -> latencyGeomean) ++
            p50s.map { case (f, v) => s"${f}_ms_p50" -> v }.toMap ++
            tracer.queryLayers(wl.queryFamilies) ++ wl.layers() ++ Map(
              "setup.session_s" -> sessionS, "jvm.gc_ms" -> gc, "jvm.peak_rss_mb" -> peakRssMb,
              "bench.gen_s" -> genS)
          Layers.names.map(n => n -> measured.getOrElse(n, 0.0))
        }
      tracer.stop()
      o.traceOut.foreach(tracer.dump)
      // strict: only failures of the program count, and every answer that
      // came back must be right
      val correct = problems.isEmpty || problems.forall(_.startsWith("failed operation: "))
      val json = "{" + Seq(
        "\"correct\":" + correct,
        "\"attempted\":" + rec.attempted,
        "\"failed\":" + rec.failed,
        "\"metrics\":{" + metrics.map { case (k, v) => Stats.jsonString(k) + ":" + Stats.jsonNumber(v) }
          .mkString(",") + "}").mkString(",") + "}"
      Files.write(Paths.get(o.out), json.getBytes("UTF-8"))
    } finally {
      currentStep = "session stop"
      spark.stop()
    }
  }
}
