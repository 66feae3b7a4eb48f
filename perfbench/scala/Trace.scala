package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/**
 * Spans around the benchmark's calls into each layer, plus a SparkListener
 * whose counters sit at the same boundaries.
 *
 * A span has a name, start, end and parent; the spans of one operation
 * share its op id. Spark jobs become child spans of the span that submitted
 * them (through the `perfbench.span` local property). Everything stays in
 * memory until [[write]] at the end of the run. With tracing off every
 * method is a pass-through and no listener is attached.
 */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._

  private val sc = spark.sparkContext
  private val originNanos = System.nanoTime()
  private val originEpochMs = System.currentTimeMillis()
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextSpan = 1
  private var nextOp = 1
  private var opId = 0 // 0 = no traced op open
  private val listener = new JobListener(originEpochMs)
  if (enabled) sc.addSparkListener(listener)

  private def nowMs: Double = (System.nanoTime() - originNanos) / 1e6

  /** Runs one closed-loop operation as a root span and returns its sample.
    * Only ops with `traced` (and a traced run) record spans and counters. */
  def op(kind: String, traced: Boolean)(body: => Unit): OpSample = {
    val record = enabled && traced
    if (record) { opId = nextOp; nextOp += 1; sc.setLocalProperty(OpProp, opId.toString) }
    val t0 = System.nanoTime()
    val ok =
      try { span(kind)(body); true }
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] $kind op failed: $e"); false }
      finally if (record) { sc.setLocalProperty(OpProp, null); opId = 0 }
    OpSample(kind, (System.nanoTime() - t0) / 1e6, record, ok)
  }

  /** A child span of whatever span is open (a no-op outside traced ops). */
  def span[T](name: String)(body: => T): T =
    if (opId == 0) body
    else {
      val id = nextSpan; nextSpan += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      sc.setLocalProperty(SpanProp, id.toString)
      val start = nowMs
      try body
      finally {
        spans += Span(id, opId, name, parent, start, nowMs)
        stack = stack.tail
        sc.setLocalProperty(SpanProp, stack.headOption.map(_.toString).orNull)
      }
    }

  private def drain(): Unit = org.apache.spark.PerfbenchShim.drainListenerBus(sc)

  private def allSpans(): Seq[Span] = { drain(); spans.toSeq ++ listener.jobSpans }

  /** For each span with this name, the number of Spark jobs it submitted. */
  def jobsUnder(name: String): Seq[Int] = {
    val jobs = allSpans().filter(_.name == "spark.job").groupBy(_.parent)
    spans.iterator.filter(_.name == name).map(s => jobs.get(s.id).fold(0)(_.size)).toSeq
  }

  /** For each traced op of this kind, the number of Spark jobs it ran. */
  def opJobs(kind: String): Seq[Int] = {
    drain()
    spans.iterator.filter(s => s.parent == 0 && s.name == kind).map(s => listener.counters(s.op).jobs).toSeq
  }

  /** Durations (ms) of the spans with this name, one per span. */
  def durations(name: String): Seq[Double] =
    spans.iterator.filter(_.name == name).map(s => s.end - s.start).toSeq

  /** Spark-runtime per-op figures over the traced ops. */
  def spanLayers(ops: Seq[OpSample]): Map[String, Double] = {
    val traced = ops.count(_.traced)
    if (traced == 0) return Map.empty
    drain()
    val kinds = ops.map(_.kind).toSet
    val roots = spans.filter(s => s.parent == 0 && kinds(s.name))
    val cs = roots.map(r => listener.counters(r.op))
    val outside = roots.map { r =>
      val jobs = listener.jobSpans.filter(_.op == r.op).map(j => (j.start max r.start, j.end min r.end))
      (r.end - r.start) - unionLength(jobs.filter(j => j._2 > j._1))
    }
    def per(f: Counters => Double): Double = cs.map(f).sum / traced
    Map(
      "spark.jobs_per_op" -> per(_.jobs),
      "spark.tasks_per_op" -> per(_.tasks),
      "spark.outside_jobs_ms_per_op" -> outside.sum / traced,
      "spark.executor_run_ms_per_op" -> per(_.runMs),
      "spark.shuffle_write_bytes_per_op" -> per(_.shuffleWriteBytes),
      "spark.spill_bytes_per_op" -> per(_.spillBytes),
      "spark.gc_ms_per_op" -> per(_.gcMs))
  }

  /** Writes every span (and a per-name self-time summary) as JSON; returns the path. */
  def write(dir: String, workload: String, seed: Long): String = {
    val all = allSpans()
    val children = all.groupBy(_.parent)
    val summary = all.groupBy(_.name).map { case (name, ss) =>
      val self = ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(k => (k.start max s.start, k.end min s.end))
        (s.end - s.start) - unionLength(kids.filter(k => k._2 > k._1))
      }
      name -> Map("count" -> ss.size, "total_ms" -> ss.map(s => s.end - s.start).sum,
        "self_ms" -> self.sum)
    }
    new java.io.File(dir).mkdirs()
    val path = s"$dir/$workload-seed$seed.json"
    Json.writeFile(path, Map("summary" -> summary, "spans" -> all.map(s => Map(
      "id" -> s.id, "op" -> s.op, "name" -> s.name, "parent" -> s.parent,
      "start_ms" -> s.start, "end_ms" -> s.end))))
    path
  }
}

object Trace {
  val OpProp = "perfbench.op"
  val SpanProp = "perfbench.span"

  final case class Span(id: Int, op: Int, name: String, parent: Int, start: Double, end: Double)

  final class Counters {
    var jobs = 0; var tasks = 0L; var runMs = 0L
    var shuffleWriteBytes = 0L; var spillBytes = 0L; var gcMs = 0L
  }

  /** Total length covered by a set of intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var covered = 0.0; var end = Double.NegativeInfinity
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s >= end) { covered += e - s; end = e }
      else if (e > end) { covered += e - end; end = e }
    }
    covered
  }

  /** Job, stage and task counters keyed by the op id the job was submitted under. */
  final class JobListener(originEpochMs: Long) extends SparkListener {
    private val byOp = mutable.Map.empty[Int, Counters]
    private val stageOp = mutable.Map.empty[Int, Int]
    private val openJobs = mutable.Map.empty[Int, (Int, Int, Long)]
    private val jobs = ArrayBuffer.empty[Span]

    def counters(op: Int): Counters = synchronized(byOp.getOrElse(op, new Counters))
    def jobSpans: Seq[Span] = synchronized(jobs.toSeq)

    private def prop(p: java.util.Properties, k: String): Option[Int] =
      Option(p).flatMap(x => Option(x.getProperty(k))).map(_.toInt)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      prop(e.properties, OpProp).foreach { op =>
        byOp.getOrElseUpdate(op, new Counters).jobs += 1
        e.stageIds.foreach(stageOp(_) = op)
        openJobs(e.jobId) = (op, prop(e.properties, SpanProp).getOrElse(0), e.time)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      openJobs.remove(e.jobId).foreach { case (op, parent, start) =>
        jobs += Span(-e.jobId - 1, op, "spark.job", parent,
          (start - originEpochMs).toDouble, (e.time - originEpochMs).toDouble)
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageOp.get(e.stageId).foreach { op =>
        val c = byOp.getOrElseUpdate(op, new Counters)
        c.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          c.runMs += m.executorRunTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.gcMs += m.jvmGCTime
        }
      }
    }
  }
}
