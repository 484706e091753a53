package perfbench

import java.nio.file.Files

import scala.collection.mutable

/** Rolls spans and listener counters up into the per-layer metrics. */
object Layers {
  /** Every per-layer metric, in BENCHMARK.json order, with its unit. */
  val all: Seq[(String, String)] = Seq(
    "spark.plan.analysis_s" -> "s", "spark.plan.optimize_s" -> "s",
    "spark.plan.physical_s" -> "s",
    "spark.sched.jobs" -> "count", "spark.sched.stages" -> "count",
    "spark.sched.tasks" -> "count", "spark.sched.delay_s" -> "s",
    "spark.exec.run_s" -> "s", "spark.exec.cpu_s" -> "s", "spark.exec.gc_s" -> "s",
    "spark.exec.busy_ratio" -> "ratio",
    "spark.io.input_bytes" -> "bytes", "spark.io.shuffle_write_bytes" -> "bytes",
    "spark.io.shuffle_read_bytes" -> "bytes", "spark.io.spill_bytes" -> "bytes",
    "spark.io.output_bytes" -> "bytes",
    "operators.tasks_per_stage" -> "count", "operators.tiny_stage_share" -> "ratio",
    "api.mcp_self_s" -> "s",
    "engine.sql_read_s" -> "s", "engine.sql_dml_s" -> "s",
    "core.scan_plan_s" -> "s", "core.read_s" -> "s", "core.files_considered" -> "count",
    "core.files_kept" -> "count", "core.prune_keep_ratio" -> "ratio",
    "core.commit_s" -> "s", "core.commit_bytes" -> "bytes",
    "core.time_travel_s" -> "s",
    "core.snapshots" -> "count", "core.data_files" -> "count",
    "core.delete_files" -> "count", "core.space_amp" -> "ratio",
    "dml.insert_s" -> "s", "dml.update_s" -> "s", "dml.delete_s" -> "s",
    "streaming.batch_s" -> "s", "streaming.rollup_s" -> "s",
    "streaming.changelog_tail_s" -> "s", "streaming.rows" -> "count",
    "orchestration.compact_s" -> "s", "orchestration.expire_s" -> "s",
    "orchestration.bytes_rewritten" -> "bytes", "orchestration.stall_s" -> "s",
    "text.candidate_pairs" -> "count", "text.verified_pairs" -> "count",
    "text.pair_yield" -> "ratio", "text.neardup_s" -> "s",
    "text.components_s" -> "s", "text.components_jobs" -> "count",
    "text.prefix_join_s" -> "s", "text.search_s" -> "s",
    "vector.ivf_train_s" -> "s", "vector.ivf_pairs_s" -> "s",
    "vector.dup_pairs" -> "count",
    "ops.read_p50_s" -> "s", "ops.read_p90_s" -> "s", "ops.reads_per_s" -> "1/s",
    "ops.commit_p50_s" -> "s", "ops.commit_p90_s" -> "s",
    "ops.commits_per_s" -> "1/s", "ops.curation_pass_s" -> "s",
    "ops.error_rate" -> "ratio",
    "trace.unattributed_s" -> "s", "jvm.peak_rss_mb" -> "MB")

  /** Span names whose self time is a `<name>_s` metric. */
  private val spanMetrics: Set[String] =
    all.map(_._1).filter(_.endsWith("_s")).map(_.stripSuffix("_s")).toSet

  def metrics(w: Workload, rec: Recorder, tracer: Tracer, stats: SparkStats,
      loopS: Double, cores: Int): Seq[(String, Double, String)] = {
    val traced = rec.samples.filter(_.traced).toSeq
    val tracedOps = traced.map(_.op).toSet
    val n = math.max(traced.size, 1).toDouble
    val spans = tracer.spans.filter(s => tracedOps(s.op)).toSeq
    val self = Tracer.selfTimes(spans)
    val m = mutable.LinkedHashMap.empty[String, Double]
    all.foreach { case (k, _) => m(k) = 0.0 }
    // every `_s` metric: mean self seconds per traced operation, so the
    // layers plus trace.unattributed_s add up to the mean operation time
    spans.groupBy(_.name).foreach { case (name, ss) =>
      if (spanMetrics(name)) m(s"${name}_s") = ss.map(s => self(s.id)).sum / n
    }
    m("trace.unattributed_s") =
      spans.filter(_.name.startsWith("op.")).map(s => self(s.id)).sum / n
    val sp = stats.byOp(rec.windows.toSeq).filter { case (o, _) => tracedOps(o) }
    def tot(f: OpSpark => Double) = sp.values.map(f).sum
    m("spark.plan.analysis_s") = tot(_.analysisMs) / 1e3 / n
    m("spark.plan.optimize_s") = tot(_.optimizeMs) / 1e3 / n
    m("spark.plan.physical_s") = tot(_.physicalMs) / 1e3 / n
    m("spark.sched.jobs") = tot(_.jobs) / n
    m("spark.sched.stages") = tot(_.stages) / n
    m("spark.sched.tasks") = tot(_.tasks) / n
    m("spark.sched.delay_s") = tot(_.delayMs) / 1e3 / n
    m("spark.exec.run_s") = tot(_.runMs) / 1e3 / n
    m("spark.exec.cpu_s") = tot(_.cpuNs) / 1e9 / n
    m("spark.exec.gc_s") = tot(_.gcMs) / 1e3 / n
    val wall = traced.map(_.seconds).sum
    m("spark.exec.busy_ratio") = if (wall > 0) tot(_.runMs) / 1e3 / (wall * cores) else 0.0
    m("spark.io.input_bytes") = tot(_.input) / n
    m("spark.io.shuffle_write_bytes") = tot(_.shWrite) / n
    m("spark.io.shuffle_read_bytes") = tot(_.shRead) / n
    m("spark.io.spill_bytes") = tot(_.spill) / n
    m("spark.io.output_bytes") = tot(_.output) / n
    val stageTasks = sp.values.flatMap(_.stageTasks).map(_.toDouble).toSeq
    val stageBytes = sp.values.flatMap(_.stageBytes).toSeq
    if (stageTasks.nonEmpty) m("operators.tasks_per_stage") = Stats.median(stageTasks)
    if (stageBytes.nonEmpty)
      m("operators.tiny_stage_share") =
        stageBytes.count(_ < (1L << 20)).toDouble / stageBytes.size
    // connected-components rounds show as jobs of the components stage
    val compOps = traced.filter(_.name == "components").map(_.op)
    if (compOps.nonEmpty)
      m("text.components_jobs") =
        compOps.map(o => sp.get(o).map(_.jobs).getOrElse(0L)).sum.toDouble / compOps.size
    // the MCP layer's own time: handleMessage minus Spark's planning and
    // execution of the queries it ran
    val mcpOps = spans.filter(_.name == "api.mcp").map(_.op).toSet
    if (mcpOps.nonEmpty) {
      val engine = sp.filter { case (o, _) => mcpOps(o) }.values.map(a =>
        (a.analysisMs + a.optimizeMs + a.physicalMs) / 1e3 + a.execNs / 1e9).sum
      val mcpTotal = spans.filter(_.name == "api.mcp").map(_.seconds).sum
      m("api.mcp_self_s") = math.max(0.0, mcpTotal - engine) / n
    }
    // per-class latency from the untraced operations, as end-to-end sees it
    val plain = rec.samples.filterNot(_.traced).toSeq
    def lat(kinds: Set[String]) = plain.filter(s => kinds(s.kind)).map(_.seconds)
    val reads = lat(Set("read"))
    val commits = lat(Set("commit", "maintain"))
    if (reads.nonEmpty) {
      m("ops.read_p50_s") = Stats.median(reads)
      m("ops.read_p90_s") = Stats.quantile(reads, 0.9)
    }
    if (commits.nonEmpty) {
      m("ops.commit_p50_s") = Stats.median(commits)
      m("ops.commit_p90_s") = Stats.quantile(commits, 0.9)
    }
    m("ops.reads_per_s") = rec.samples.count(_.kind == "read") / loopS
    m("ops.commits_per_s") =
      rec.samples.count(s => s.kind == "commit" || s.kind == "maintain") / loopS
    m("ops.error_rate") = rec.failed.toDouble / math.max(rec.attempted, 1)
    m("jvm.peak_rss_mb") = peakRssMb
    w.layerMetrics(rec, traced).foreach { case (k, v) =>
      require(m.contains(k), s"undeclared per-layer metric $k")
      m(k) = v
    }
    val units = all.toMap
    m.toSeq.map { case (k, v) => (k, v, units(k)) }
  }

  /** The JVM's peak resident set, from /proc. */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)

  /** Writes the spans, each operation's unattributed remainder and the run's
    * diagnostics to `<bench>/out/trace-<workload>-<seed>.json`. */
  def writeTrace(ctx: Ctx, workload: String, rec: Recorder, warmRec: Recorder,
      tracer: Tracer, calibS: Double, sessionS: Double, builds: Seq[Double],
      warmS: Double): Unit = {
    val out = ctx.bench.resolve("out")
    Files.createDirectories(out)
    val self = Tracer.selfTimes(tracer.spans.toSeq)
    val ops = tracer.spans.filter(_.name.startsWith("op.")).map { s =>
      f"""{"op": ${s.op}, "name": "${s.name}", "wall_s": ${s.seconds}%.6f, "unattributed_s": ${self(s.id)}%.6f}"""
    }
    val spans = tracer.spans.map { s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, "name": "${s.name}", "start_ns": ${s.startNs}, "end_ns": ${s.endNs}}"""
    }
    def samples(r: Recorder) = r.samples.map { s =>
      f"""{"op": ${s.op}, "kind": "${s.kind}", "name": "${s.name}", "seconds": ${s.seconds}%.6f, "traced": ${s.traced}}"""
    }
    val failures = rec.failures.map(f => "\"" + f.replace("\\", "\\\\")
      .replace("\"", "'").replace("\n", " ") + "\"")
    val json =
      s"""{"workload": "$workload", "seed": ${ctx.seed}, "calib_s": $calibS, "session_s": $sessionS,
         | "build_s": ${builds.mkString("[", ", ", "]")}, "warm_s": $warmS,
         | "failures": ${failures.mkString("[", ", ", "]")},
         | "warm_samples": ${samples(warmRec).mkString("[\n  ", ",\n  ", "]")},
         | "samples": ${samples(rec).mkString("[\n  ", ",\n  ", "]")},
         | "ops": ${ops.mkString("[\n  ", ",\n  ", "]")},
         | "spans": ${spans.mkString("[\n  ", ",\n  ", "]")}}
         |""".stripMargin
    Files.writeString(out.resolve(s"trace-$workload-${ctx.seed}.json"), json)
  }
}
