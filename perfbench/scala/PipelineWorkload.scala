package perfbench

import graft.SparkEntry
import org.apache.spark.sql.Row

import scala.collection.mutable.ArrayBuffer

/**
 * pipeline_batch: repeated rounds over a fixed list of multi-job
 * `SparkEntry` gates on seeded gate tables. Each gate is collected in full;
 * its persisted blocks and cache are freed after it, outside the timed
 * window, as `Bench.runTimed` does. The end-to-end latency unit is the round
 * (the sum of its gate times); correctness is counted per gate run.
 *
 * Set-up is the cold pass plus `WarmupRounds` untimed rounds; the timed
 * rounds follow.
 *
 * Correctness: the cold pass's results are written as parquet for `run.py`
 * to compare against `SparkEntry.oracleSql` replayed in DuckDB; every later
 * round, warm-up and timed, must return exactly the cold pass's rows.
 */
object PipelineWorkload {
  val Gates: Seq[String] = Seq("q_kmv_setops", "q_assoc_pairs", "q_tfidf", "q_topx",
    "q_topx_agg")
  /** Untimed rounds after the cold pass: on 4 cores a round is ~1.4x slower
    * right after the cold pass and levels off after about three. */
  val WarmupRounds = 3

  def run(ctx: RunCtx): WorkloadResult = {
    import ctx.{spark, trace}
    val tables = s"${ctx.dataDir}/tables"
    val queries = SparkEntry.queries.filter { case (name, _) => Gates.contains(name) }

    def free(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
      System.gc()
    }
    def gate(name: String, traced: Boolean): (OpSample, Array[Row]) = {
      var rows: Array[Row] = null
      val s = trace.op(name, traced) { rows = queries(name)(spark, tables).collect() }
      free()
      (s, rows)
    }

    val first = scala.collection.mutable.Map.empty[String, Seq[String]]
    var bad = 0
    /** One pass over the gates. The first pass that returns a gate's rows
      * writes them as parquet for `run.py`'s oracle check; every later pass
      * must return the same rows. */
    def round(traced: Int => Boolean): Seq[OpSample] = Gates.zipWithIndex.map { case (name, i) =>
      val (s, rows) = gate(name, traced(i))
      if (s.ok) {
        val canon = rows.map(_.toString).sorted.toSeq
        first.get(name) match {
          case None =>
            first(name) = canon
            val df = queries(name)(spark, tables)
            spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
              .coalesce(1).write.parquet(s"${ctx.dataDir}/results/$name")
            free()
          case Some(expected) => if (canon != expected) bad += 1
        }
      }
      s
    }

    // set-up: the cold pass, then warm-up rounds until the JIT has settled
    val setupOps = ArrayBuffer.empty[OpSample]
    val setupS = Stats.timeS((0 to WarmupRounds).foreach(_ => setupOps ++= round(_ => false)))

    val samples = ArrayBuffer.empty[OpSample]
    val rounds = ArrayBuffer.empty[OpSample]
    while (ctx.nextFits(rounds.map(_.ms).sum, rounds.size)) {
      // a traced run traces every other gate, shifted by one each round, so
      // each gate is measured both ways
      val ops = round(i => (rounds.size + i) % 2 == 0)
      samples ++= ops
      rounds += OpSample("round", ops.map(_.ms).sum, ops.exists(_.traced), ops.forall(_.ok))
    }
    Json.writeFile(s"${ctx.dataDir}/oracle.json",
      Gates.map(n => n -> SparkEntry.oracleSql(n)).toMap)

    val layers = if (!trace.enabled) Map.empty[String, Double] else {
      val perGate = Gates.flatMap { name =>
        val ms = samples.filter(s => s.traced && s.kind == name).map(_.ms).toSeq
        Seq(s"gate.${name}_s" -> Stats.median(ms) / 1000.0,
          s"gate.${name}_jobs" -> Stats.median(trace.opJobs(name).map(_.toDouble)))
      }
      perGate.toMap + ("sql.topn_by_ord_rows_per_s" -> SqlBench.topNRowsPerS(spark))
    }
    WorkloadResult(Seq(setupS), rounds.toSeq, setupOps.size + samples.size,
      setupOps.count(!_.ok) + samples.count(!_.ok) + bad,
      Map("gates" -> Gates, "rounds" -> rounds.size,
        "gate_runs" -> Gates.map(n =>
          n -> (setupOps ++ samples).count(s => s.kind == n && s.ok)).toMap) ++
        ctx.opts.collect { case (k, v) if k.endsWith("-rows") => k -> v.toLong },
      Map("batch_round_s_p50" -> Stats.median(rounds.map(_.ms / 1000.0).toSeq)) ++ Gates.map(n =>
        s"$n.s_p50" -> Stats.median(samples.filter(_.kind == n).map(_.ms / 1000.0).toSeq)),
      layers, traceOps = samples.toSeq)
  }
}
