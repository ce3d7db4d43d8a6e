package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

/** Per-layer metrics of the traced passes, per pass. A layer's self
  * time is the duration of its spans minus their children's (reported
  * as `<layer>.wall_s`, and as `Checkpoints.release_s` and
  * `StructuralIndex.read_s`); its dark time is the part of that self
  * time during which no Spark job ran. The driver layer is the
  * benchmark's own glue (pass and job spans); `driver.dark_s` is its
  * dark time. Set-up metrics come from the one cold set-up. */
object Layers {
  val Gates: Seq[String] = Workloads.all.values.toSeq.flatMap(_.jobs)
    .map(_.gate).sorted

  private var heapAfterGcPeak = 0L

  /** Samples the heap left after the most recent collection. */
  def sampleHeap(): Unit = {
    var used = 0L
    ManagementFactory.getMemoryPoolMXBeans.forEach { p =>
      if (p.getType == MemoryType.HEAP && p.getCollectionUsage != null)
        used += p.getCollectionUsage.getUsed
    }
    heapAfterGcPeak = math.max(heapAfterGcPeak, used)
  }

  private def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  def compute(tracer: Tracer, probe: Probe, streams: StreamProbe,
      warns: WarnCounter, ctx: Ctx, passes: Seq[PassRec],
      setupSpan: Span, gcS: Double): Map[String, Double] = {
    val traced = passes.filter(_.traced)
    val untraced = passes.filterNot(_.traced)
    val n = traced.size.toDouble
    val spans = traced.flatMap(p => tracer.subtree(p.span))
    val jobIntervals = probe.jobs.toSeq.map(j => (j._1, j._2))
    def self(layer: String): Double =
      spans.filter(_.layer == layer).map(tracer.selfSeconds).sum / n
    def dark(layer: String): Double = spans.filter(_.layer == layer)
      .map(s => Intervals.length(
        Intervals.minus(tracer.selfIntervals(s), jobIntervals)))
      .sum / 1e3 / n
    def named(name: String): Double =
      spans.filter(_.name == name).map(_.seconds).sum / n
    def inSetup(f: Span => Boolean, measure: Span => Double): Double =
      tracer.subtree(setupSpan).filter(f).map(measure).sum
    def per(x: Double, d: Double): Double = if (d > 0) x / d else 0.0
    val jobs = traced.flatMap(_.jobs)
    def rate(gates: Set[String]): Double = {
      val js = jobs.filter(j => gates(j.gate))
      per(js.map(_.result.work).sum, js.map(_.wallS).sum)
    }
    val iters = jobs.map(_.result.iterations.toDouble).sum / n
    val op = probe.agg("operators")
    val gio = probe.agg("GraphIO")
    val pipe = probe.agg("pipelines")
    val mb = 1e6
    val m = Map.newBuilder[String, Double]
    m ++= Seq(
      "GraphIO.wall_s" -> self("GraphIO"),
      "GraphIO.jobs" -> gio.jobs / n,
      "GraphIO.input_mb" -> gio.inputBytes / mb / n,
      "GraphIO.shuffle_mb" -> gio.shuffleBytes / mb / n,
      "GraphIO.cached_mb" -> gio.peakBytes / mb,
      "GraphIO.layout_write_s" -> named("GraphIO.writeBucketedGraph"),
      "GraphIO.layout_read_s" -> named("GraphIO.readBucketedGraph"),
      "GraphIO.setup_s" -> inSetup(_.layer == "GraphIO", tracer.selfSeconds),
      "operators.wall_s" -> self("operators"),
      "operators.iterations" -> iters,
      "operators.s_per_iter" -> per(self("operators"), iters),
      "operators.jobs_per_iter" -> per(op.jobs / n, iters),
      "operators.stages_per_iter" -> per(op.stages / n, iters),
      "operators.tasks_per_stage" -> per(op.tasks.toDouble, op.stages.toDouble),
      "operators.shuffle_mb_per_iter" -> per(op.shuffleBytes / mb / n, iters),
      "operators.exec_cpu_s" -> op.execCpuNs / 1e9 / n,
      "operators.gc_s" -> op.gcMs / 1e3 / n,
      "operators.spill_mb" -> op.spillBytes / mb / n,
      "operators.dark_s" -> dark("operators"),
      "Checkpoints.blocks_written" -> op.blocksWritten / n,
      "Checkpoints.mb_written" -> op.bytesWritten / mb / n,
      "Checkpoints.release_s" -> self("Checkpoints"),
      "Checkpoints.missing_block_warns" ->
        (warns.missingBlock.get + warns.unrecomputable.get) / n,
      "Checkpoints.release_useful_ratio" ->
        per(probe.unpersistUseful.toDouble, probe.unpersistRequests.toDouble),
      "StructuralIndex.build_s" ->
        inSetup(_.name == "StructuralIndex.write", _.seconds),
      "StructuralIndex.read_s" -> self("StructuralIndex"),
      "StructuralIndex.mb" -> dirBytes(ctx.indexDir) / mb,
      "RankOutput.wall_s" -> self("RankOutput"),
      "RankOutput.write_mb" -> traced.lastOption.toSeq.flatMap(_.jobs)
        .map(j => dirBytes(s"${j.out}.text") / mb).sum,
      "pipelines.wall_s" -> self("pipelines"),
      "pipelines.exec_cpu_s" -> pipe.execCpuNs / 1e9 / n,
      "pipelines.shuffle_mb" -> pipe.shuffleBytes / mb / n,
      "pipelines.spill_mb" -> pipe.spillBytes / mb / n,
      "pipelines.dark_s" -> dark("pipelines"),
      "pipelines.docs_per_s" ->
        rate(Set("pipeline_near_dedup", "dedup_minhash_lsh")),
      "streaming.wall_s" -> self("streaming"),
      "streaming.batches" -> streams.batches / n,
      "streaming.trigger_s" -> streams.durationMs("triggerExecution") / 1e3 / n,
      "streaming.add_batch_s" -> streams.durationMs("addBatch") / 1e3 / n,
      "streaming.wal_commit_s" -> (streams.durationMs("walCommit") +
        streams.durationMs("commitOffsets")) / 1e3 / n,
      "streaming.state_commit_s" -> streams.stateCommitMs / 1e3 / n,
      "streaming.state_mb" -> streams.stateBytesPeak / mb,
      "streaming.dark_s" -> dark("streaming"),
      "streaming.events_per_s" -> rate(Set("stream_restart_tws")),
      "sink.wall_s" -> self("sink"),
      "driver.dark_s" -> dark("driver"),
      "driver.gc_s" -> gcS / n,
      "driver.peak_heap_after_gc_mb" -> heapAfterGcPeak / mb,
      "trace.overhead_frac" -> (per(Harness.median(traced.map(_.wallS)),
        Harness.median(untraced.map(_.wallS))) - 1.0))
    Gates.foreach { g =>
      m += s"job.$g.wall_s" ->
        Harness.median(jobs.filter(_.gate == g).map(_.wallS))
    }
    m.result()
  }
}
