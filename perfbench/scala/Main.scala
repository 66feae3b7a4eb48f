package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, shiftrightunsigned, sum, xxhash64}

import scala.collection.mutable

/** One timed closed-loop operation. `traced` is false for every op of an
  * untraced run and for the alternate blocks of a traced run that measure
  * the tracing overhead; `ok` is false when the op threw. */
final case class OpSample(kind: String, ms: Double, traced: Boolean, ok: Boolean = true)

/** What a workload hands back to [[Main]]: the set-up repetitions; the
  * timed units the end-to-end latency is taken over (`ops`) and the units
  * the tracer recorded (`traceOps`, when they differ); the checked ops
  * attempted and failed (threw or wrong result); the generated input sizes;
  * workload-specific end-to-end figures (printed in the run record); the
  * per-layer numbers of a traced run; and any known-defect probes. */
final case class WorkloadResult(
    setupRepsS: Seq[Double],
    ops: Seq[OpSample],
    attempted: Int,
    failed: Int,
    inputs: Map[String, Any],
    detail: Map[String, Double],
    layers: Map[String, Double],
    probes: Map[String, String] = Map.empty,
    traceOps: Seq[OpSample] = Nil) {
  def traced: Seq[OpSample] = if (traceOps.isEmpty) ops else traceOps
}

/** Everything a workload needs from the run. */
final case class RunCtx(spark: SparkSession, dataDir: String, seed: Long,
                        seconds: Double, trace: Trace, corrupt: Boolean,
                        opts: Map[String, String]) {
  /** Closed-loop stop rule: issue another unit (block, round) while the
    * measured time plus one more average unit stays within `seconds`, so
    * every run holds whole units; the first unit always runs. */
  def nextFits(measuredMs: Double, units: Int): Boolean =
    units == 0 || measuredMs / 1000.0 * (units + 1) / units <= seconds
}

/**
 * JVM half of the benchmark. `run.py` builds the inputs, starts this main
 * once per run and reads the JSON record it writes to `--out`:
 *
 *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *                  --data <run dir> --traces <dir> --out <record.json>
 *                  [--corrupt 1] [workload input facts as --key value]
 *
 * `--corrupt 1` makes one expected result wrong, so the run must report a
 * failed op (the benchmark's self-test).
 *
 * The Spark session is fixed here, not by environment: `local[nproc]`,
 * `shuffle.partitions = nproc`, and the rest as `graft.Bench` sets it (AQE
 * on, shuffle and spill compression off, 8 retained executions/jobs/stages).
 */
object Main {
  val ScalaVersion: String = scala.util.Properties.versionNumberString
  /** Rows of the host-drift calibration job (Bench.calibSec's shape, smaller). */
  val CalibRows = 20000000L

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val dataDir = opt("data")
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = session(cpus, dataDir)
    val trace = new Trace(spark, opt("trace") == "1")
    val ctx = RunCtx(spark, dataDir, opt("seed").toLong, opt("seconds").toDouble,
      trace, opt.get("corrupt").contains("1"), opt)
    try {
      val sessionS = (System.currentTimeMillis() -
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
      val calibStart = calibSec(spark)
      val t0 = System.nanoTime()
      val r = workload match {
        case "geo_point_queries" => GeoWorkload.run(ctx)
        case "pipeline_batch" => PipelineWorkload.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val workloadS = (System.nanoTime() - t0) / 1e9
      val calibEnd = calibSec(spark)
      val record = mutable.LinkedHashMap[String, Any](
        "workload" -> workload, "seed" -> ctx.seed,
        "host" -> Map("nproc" -> cpus, "master" -> s"local[$cpus]",
          "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
          "spark" -> spark.version, "scala" -> ScalaVersion,
          "calib_rows" -> CalibRows, "calib_start_s" -> calibStart,
          "calib_end_s" -> calibEnd, "jvm_to_session_s" -> sessionS,
          "workload_wall_s" -> workloadS),
        "inputs" -> r.inputs,
        "setup_reps_s" -> r.setupRepsS,
        "op_ms" -> r.ops.map(_.ms),
        "attempted" -> r.attempted, "failed" -> r.failed,
        "probes" -> r.probes,
        "end_to_end" -> endToEnd(r),
        "detail" -> r.detail)
      if (trace.enabled) {
        record("per_layer") = r.layers ++ trace.spanLayers(r.traced) ++ Map(
          "trace.overhead_pct" -> Stats.overheadPct(r.traced),
          "jvm.peak_rss_mb" -> Stats.peakRssMb())
        record("trace_file") = trace.write(opt("traces"), workload, ctx.seed)
      }
      Json.writeFile(opt("out"), record)
    } finally spark.stop()
  }

  private def endToEnd(r: WorkloadResult): Map[String, Double] = {
    // only untraced ops: a traced run's end-to-end figures carry its overhead
    val ms = r.ops.filterNot(_.traced).map(_.ms)
    Map(
      "setup_s" -> Stats.median(r.setupRepsS),
      "op_ms_p50" -> Stats.quantile(ms, 0.5),
      "ops_per_s" -> ms.size / (ms.sum / 1000.0))
  }

  def session(cpus: Int, dataDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.sql.ui.retainedExecutions", 8)
      .config("spark.ui.retainedJobs", 8)
      .config("spark.ui.retainedStages", 8)
      .config("spark.ui.retainedTasks", 1000)
      .config("spark.local.dir", s"$dataDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dataDir/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$dataDir/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.util.Logs.muteBoundedWindowWarn()
    graft.util.Logs.muteUnpersistCheckpointWarn()
    graft.sql.functions.registerAll(spark)
    spark
  }

  /** Host-drift calibration: the range + xxhash64 + sum job of
    * `Bench.calibSec`, median of 5 after 3 untimed executions. */
  def calibSec(spark: SparkSession): Double = {
    def once(): Unit = spark.range(CalibRows)
      .select(shiftrightunsigned(xxhash64(col("id")), 32).as("h"))
      .agg(sum(col("h"))).head()
    (1 to 3).foreach(_ => once())
    Stats.median((1 to 5).map(_ => Stats.timeS(once())))
  }
}

object Stats {
  def timeS[T](body: => T): Double = { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile (numpy's default); 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Tracing overhead: per op kind, the median traced op against the median
    * untraced op, summed over kinds present on both sides. */
  def overheadPct(ops: Seq[OpSample]): Double = {
    val byKind = ops.groupBy(_.kind).values.toSeq.flatMap { os =>
      val (t, u) = os.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None else Some((median(t.map(_.ms)), median(u.map(_.ms))))
    }
    if (byKind.isEmpty) 0.0 else 100.0 * (byKind.map(_._1).sum / byKind.map(_._2).sum - 1.0)
  }
}

/** Minimal JSON writer for the run record (maps, sequences, numbers, strings). */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }

  def writeFile(path: String, v: Any): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path), render(v).getBytes("UTF-8"))
}
