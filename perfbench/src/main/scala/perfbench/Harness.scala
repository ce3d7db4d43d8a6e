package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable

import graft.{Oracles, SparkEntry}
import org.apache.spark.sql.SparkSession

/** One timed job: its wall time, outcome and output directory. */
final case class JobRec(gate: String, ok: Boolean, wallS: Double,
    result: JobResult, out: String, error: String)

final case class PassRec(index: Int, traced: Boolean, wallS: Double,
    cpuS: Double, jobs: Seq[JobRec], span: Span)

/** Runs one workload in a closed loop and writes `result.json`:
  *
  *  1. build the session (`local[cpus]`, the engine's bench settings);
  *  2. set up once (cold), then run one untimed warm-up pass; `setup_s`
  *     is the time from JVM start to the end of that pass, which is the
  *     start of the first timed job;
  *  3. run passes, each job only after the previous one's sink has
  *     finished, until `seconds` have passed. With `--trace 1` passes
  *     run in pairs of traced, untraced, so the tracing overhead is
  *     measured in the same process against the pass right after.
  *
  * Usage: Harness --workload <name> --data <dir> --work <dir>
  *   --seconds <s> --trace <0|1> --cpus <n> */
object Harness {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = Workloads.all(opt("workload"))
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cpus = opt("cpus")
    val work = Paths.get(opt("work")).toAbsolutePath.toString
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = loadavg()

    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "5min")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val sc = spark.sparkContext
    val tracer = new Tracer(sc)
    val probe = new Probe(tracer)
    sc.addSparkListener(probe)
    val ctx = new Ctx(spark, opt("data"), work, tracer)

    var passNo = 0
    def pass(traced: Boolean): PassRec = {
      passNo += 1
      val k = passNo
      val cpu0 = cpuNs()
      val jobs = mutable.ArrayBuffer.empty[JobRec]
      val span = tracer.timed(s"pass-$k", "driver") {
        workload.jobs.foreach { job =>
          val out = s"$work/out/pass-$k/${job.gate}"
          val t0 = System.nanoTime()
          val rec =
            try {
              val r = tracer.span(s"job:${job.gate}", "driver")(job.run(ctx, out))
              JobRec(job.gate, ok = true, (System.nanoTime() - t0) / 1e9, r,
                out, "")
            } catch { case e: Throwable =>
              System.err.println(s"[perfbench] ${job.gate} failed: $e")
              JobRec(job.gate, ok = false, (System.nanoTime() - t0) / 1e9,
                JobResult(0.0), out, String.valueOf(e.getMessage))
            }
          jobs += rec
          if (traced) Layers.sampleHeap()
        }
      }
      PassRec(k, traced, span.seconds, (cpuNs() - cpu0) / 1e9, jobs.toSeq,
        span)
    }

    // cold set-up and warm-up pass
    val setupSpan = tracer.timed("setup", "driver")(workload.setup(ctx))
    val warmS = pass(traced = false).wallS
    deleteTree(Paths.get(s"$work/out"))
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // timed section
    var layers = Map.empty[String, Double]
    probe.resetPeak()
    val passes = mutable.ArrayBuffer.empty[PassRec]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    if (!trace) {
      while (passes.isEmpty || elapsed < seconds) passes += pass(false)
    } else {
      val warns = new WarnCounter
      val streams = new StreamProbe
      warns.install()
      spark.streams.addListener(streams)
      def tracing(on: Boolean): Unit = {
        if (!on) Thread.sleep(500) // streaming progress rides its own queue
        probe.drain(sc)
        probe.tracing = on
        warns.tracing = on
        streams.tracing = on
        tracer.tagJobs(on)
      }
      var gcS = 0.0
      while (passes.isEmpty || elapsed < seconds) {
        tracing(true)
        val gc0 = gcMs()
        passes += pass(true)
        gcS += (gcMs() - gc0) / 1e3
        tracing(false)
        passes += pass(false)
      }
      spark.streams.removeListener(streams)
      warns.uninstall()
      layers = Layers.compute(tracer, probe, streams, warns, ctx,
        passes.toSeq, setupSpan, gcS)
    }
    val peakStorageMb = probe.peakBytes / 1e6
    val loadEnd = loadavg()

    // the oracle each job's output is checked against; the converged
    // kernel's oracle unrolls the iterations the kernel reported
    val oracles = workload.jobs.map { j =>
      val sql = j.gate match {
        case "pagerank_converged" =>
          passes.flatMap(_.jobs).find(r => r.ok && r.gate == j.gate)
            .map(r => Oracles.pageRankConverged(
              r.result.markers("n_iter").toInt,
              r.result.markers("converged") != 0.0))
            .getOrElse(SparkEntry.oracleSql(j.gate))
        case g => SparkEntry.oracleSql(g)
      }
      j.gate -> sql
    }

    val json = Json.obj(
      "workload" -> Json.str(workload.name),
      "session_s" -> Json.num(sessionS),
      "setup_s" -> Json.num(setupS),
      "setup_cold_s" -> Json.num(setupSpan.seconds),
      "warm_pass_s" -> Json.num(warmS),
      "peak_storage_mb" -> Json.num(peakStorageMb),
      "loadavg_start" -> Json.num(loadStart),
      "loadavg_end" -> Json.num(loadEnd),
      "jvm_flags" -> Json.arr(ManagementFactory.getRuntimeMXBean
        .getInputArguments.toArray.toSeq.map(a => Json.str(a.toString))),
      "cpus" -> Json.str(cpus),
      "passes" -> Json.arr(passes.toSeq.map(p => Json.obj(
        "index" -> Json.num(p.index),
        "traced" -> Json.bool(p.traced),
        "wall_s" -> Json.num(p.wallS),
        "cpu_s" -> Json.num(p.cpuS),
        "jobs" -> Json.arr(p.jobs.map(j => Json.obj(
          "gate" -> Json.str(j.gate),
          "ok" -> Json.bool(j.ok),
          "wall_s" -> Json.num(j.wallS),
          "work" -> Json.num(j.result.work),
          "iterations" -> Json.num(j.result.iterations),
          "out" -> Json.str(j.out),
          "error" -> Json.str(j.error))))))),
      "oracles" -> Json.obj(oracles.map { case (g, s) => g -> Json.str(s) }: _*),
      "layers" -> Json.obj(layers.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.num(v) }: _*),
      "spans" -> Json.arr(tracer.spans.toSeq.map(s => Json.obj(
        "id" -> Json.num(s.id), "parent" -> Json.num(s.parent),
        "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
        "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs),
        "seconds" -> Json.num(s.seconds)))))
    Files.writeString(Paths.get(s"$work/result.json"), json)
    spark.stop()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def gcMs(): Long = {
    var t = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach(b =>
      t += math.max(0L, b.getCollectionTime))
    t
  }

  private def loadavg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.delete(f))
      finally s.close()
    }
}

/** Minimal JSON writer (the harness has no JSON library on its path). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def num(l: Long): String = l.toString
  def num(i: Int): String = i.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
