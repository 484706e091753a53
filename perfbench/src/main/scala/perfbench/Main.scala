package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** What every workload gets: the session, the tracer, the seed and its
  * directories. `data` holds the generated tables, `run` is this run's
  * private scratch space (warehouses, checkpoints, oracle results). */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long,
    data: Path, run: Path, bench: Path, cores: Int) {
  def dataDir: String = data.toString
}

/** One workload: a fresh set of tables built from the generated inputs,
  * the expected answers, and an endless seeded sequence of operations. */
trait Workload {
  /** Builds the workload's tables under `dir`, a fresh directory per
    * call. Timed and repeated: the last build is the one measured. */
  def build(dir: Path): Unit
  /** DuckDB statements for the expected answers (name -> SQL). */
  def oracleRequests: Map[String, String]
  def useOracle(expected: Map[String, Seq[String]]): Unit
  /** Untimed operations before measuring, so JIT, code generation and
    * file caches are as warm on every run (each workload says how much). */
  def warm(rec: Recorder): Unit
  /** Runs one cycle: every operation of the workload's mix once, in a
    * seeded order. */
  def cycle(rec: Recorder): Unit
  /** The share of the `--seconds` budget one cycle stands for: a run
    * measures `round(--seconds / cycleSeconds)` whole cycles, at least
    * one. */
  def cycleSeconds: Double
  /** Workload-specific per-layer values computed at run end. */
  def layerMetrics(rec: Recorder, traced: Seq[Sample]): Map[String, Double]
}

/** Runs one workload for a fixed time and prints one JSON result line.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *   --run DIR --bench DIR --cores N */
object Main {
  val SetupReps = 3
  val OpTimeoutS = 30.0

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val run = Paths.get(a("run")).toAbsolutePath
    val cores = a("cores").toInt

    val t0 = System.nanoTime()
    val spark = session(run, cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val calibS = { calib(spark, cores); calib(spark, cores) }

    val tracer = new Tracer(false)
    val stats = new SparkStats
    if (trace) {
      spark.sparkContext.addSparkListener(stats)
      spark.listenerManager.register(stats)
    }
    val sc = spark.sparkContext
    val rec = new Recorder(tracer, OpTimeoutS,
      group = {
        case Some(g) => sc.setJobGroup(g, g, interruptOnCancel = true)
        case None => sc.clearJobGroup()
      },
      cancel = g => sc.cancelJobGroup(g))
    val ctx = Ctx(spark, tracer, seed, Paths.get(a("data")).toAbsolutePath, run,
      Paths.get(a("bench")).toAbsolutePath, cores)
    val w: Workload = workload match {
      case "table-churn" => new TableChurn(ctx)
      case "llm-curation" => new LlmCuration(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val builds = (0 until SetupReps).map { i =>
      val b0 = System.nanoTime()
      w.build(run.resolve(s"wh$i"))
      (System.nanoTime() - b0) / 1e9
    }
    w.useOracle(Oracle.run(spark, ctx.bench, ctx.data, run.resolve("oracle"),
      w.oracleRequests))
    val warmRec = new Recorder(tracer, OpTimeoutS)
    val w0 = System.nanoTime()
    w.warm(warmRec)
    val warmS = (System.nanoTime() - w0) / 1e9
    require(warmRec.failed == 0,
      s"warm-up failed: ${warmRec.failures.mkString("; ")}")
    val setupS = sessionS + Stats.median(builds) + warmS

    // a traced run first runs one extra cycle, so that neither its traced
    // nor its untraced cycles are the first, colder one
    if (trace) {
      w.cycle(warmRec)
      require(warmRec.failed == 0, s"warm-up failed: ${warmRec.failures.mkString("; ")}")
    }
    System.gc()
    // a fixed number of whole cycles, not a fixed time: every run, on any
    // commit, measures the same work. A traced run measures untraced,
    // traced, untraced: the tracing overhead is the traced cycle against
    // the mean of the two around it, which cancels a steady warm-up trend
    val plan =
      if (trace) Seq(false, true, false)
      else Seq.fill(math.max(1, math.round(seconds / w.cycleSeconds).toInt))(false)
    val l0 = System.nanoTime()
    val cycleMeans = plan.map { traced =>
      tracer.enabled = traced
      val before = rec.samples.size
      w.cycle(rec)
      val lat = rec.samples.drop(before).map(_.seconds).toSeq
      (traced, if (lat.isEmpty) 0.0 else Stats.geomean(lat))
    }
    tracer.enabled = false
    val loopS = (System.nanoTime() - l0) / 1e9
    rec.stop()
    warmRec.stop()

    // a cycle holds too few operations for a tail percentile with ten
    // samples beyond it, and a median of a cycle's unlike operations jumps
    // when two of them swap rank; so a run reports the geometric mean of
    // the latencies (every operation weighs the same, as in TPC-H's power
    // metric) and the throughput, which counts time inside the timed calls
    // only, not the checks
    val lat = rec.samples.filterNot(_.traced).map(_.seconds).toSeq
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("op_gmean_s", if (lat.isEmpty) 0.0 else Stats.geomean(lat), "s"),
        ("ops_per_s", if (lat.isEmpty) 0.0 else lat.size / lat.sum, "1/s"))
      else {
        org.apache.spark.perfbench.Bus.drain(sc)
        Layers.metrics(w, rec, tracer, stats, loopS, cores) ++ Seq(("trace.overhead_s",
          cycleMeans.filter(_._1).map(_._2).sum -
            cycleMeans.filterNot(_._1).map(_._2).sum / 2, "s"))
      }
    Layers.writeTrace(ctx, workload, rec, warmRec, tracer, calibS, sessionS,
      builds, warmS)
    rec.failures.take(20).foreach(f => System.err.println(s"[perfbench] failed: $f"))
    System.err.println(f"[perfbench] $workload seed=$seed ops=${rec.attempted} " +
      f"failed=${rec.failed} loop=$loopS%.1f s calib=$calibS%.3f s " +
      f"session=$sessionS%.1f s builds=${builds.map(b => f"$b%.1f").mkString(",")} s " +
      f"warm=$warmS%.1f s total=${(System.nanoTime() - t0) / 1e9}%.1f s")
    val body = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${jsonNum(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${rec.failed == 0}, "attempted": ${rec.attempted}, """ +
      s""""failed": ${rec.failed}, "metrics": {$body}}""")
    spark.stop()
  }

  def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def session(run: Path, cores: Int): SparkSession = {
    val local = run.resolve("spark-local")
    Files.createDirectories(local)
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", run.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(run.resolve("checkpoints").toString)
    s
  }

  /** Host-speed diagnostic with graft.Bench's calibration job shape (an
    * xxhash64 fold over a generated range), smaller. Reported beside the
    * run; it adjusts no metric. */
  def calib(spark: SparkSession, cores: Int): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 50000000L, 1, cores)
      .select(bit_xor(xxhash64(col("id")))).head()
    (System.nanoTime() - t0) / 1e9
  }
}
