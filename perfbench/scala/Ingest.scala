package perfbench

import graft.api.Gis
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * The write path, run in every `geo_point_queries` set-up repetition:
 * `Gis.ingestTsv` (parse, `geohash_encode` keys, dedup) of the seeded
 * wifi-style TSV, then `Gis.writePointsPartitioned` with the default file
 * count. Each write goes to a fresh directory that is checked and deleted
 * outside the timing: the read-back row count must equal the TSV's
 * distinct-geohash count (computed independently by the generator), and
 * every row must sit in the `gh_prefix` directory its geohash implies.
 */
object Ingest {
  val PrefixLen = 4

  final case class Written(ms: Double, files: Int, dirs: Int, bytes: Long, rows: Long, ok: Boolean)

  /** One ingest + write of `tsv` into `out`. */
  def write(spark: SparkSession, trace: Trace, tsv: String, out: String): Unit = {
    val df = trace.span("api.ingest_tsv")(Gis.ingestTsv(spark, tsv))
    trace.span("api.write_partitioned")(Gis.writePointsPartitioned(df, out, prefixLen = PrefixLen))
  }

  /** Checks a written directory against `expectedRows`, then deletes it. */
  def check(spark: SparkSession, out: String, expectedRows: Long, ms: Double): Written = {
    val parts = Option(new java.io.File(out).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("gh_prefix="))
    val files = parts.flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
    val r = scala.util.Try(spark.read.parquet(out).agg(count(lit(1)),
      count(when(!(substring(col("geohash"), 1, PrefixLen) <=> col("gh_prefix")), 1))).head())
    val bytes = files.map(_.length).sum
    Files.delete(out)
    val (rows, misplaced) = r.map(x => (x.getLong(0), x.getLong(1))).getOrElse((-1L, -1L))
    Written(ms, files.length, parts.length, bytes, rows, ok = rows == expectedRows && misplaced == 0)
  }

  /** Per-layer figures of the write path over the set-up repetitions (medians). */
  def layers(spark: SparkSession, trace: Trace, w: Seq[Written], tsvRows: Long,
             tsvBytes: Double): Map[String, Double] = Map(
    "api.ingest_tsv_s" -> Stats.median(trace.durations("api.ingest_tsv")) / 1000.0,
    "api.write_partitioned_s" -> Stats.median(trace.durations("api.write_partitioned")) / 1000.0,
    "ingest.files_written" -> Stats.median(w.map(_.files.toDouble)),
    "ingest.dirs_written" -> Stats.median(w.map(_.dirs.toDouble)),
    "ingest.dup_rows_dropped" -> Stats.median(w.map(x => (tsvRows - x.rows).toDouble)),
    "ingest.stored_bytes_per_input_byte" -> Stats.median(w.map(_.bytes / tsvBytes)),
    "sql.geohash_encode_rows_per_s" -> SqlBench.rowsPerS(spark,
      graft.sql.functions.geohash_encode(col("lat"), col("lon"), 12)))

  /** Known-defect probe: a lon field holding text (not empty) should ingest
    * as a null coordinate, per `Gis.ingestTsv`'s contract. Reports "ok" or
    * the exception class, so the defect shows in every run record without
    * failing the run's ops. */
  def nonNumericProbe(spark: SparkSession, dir: String): String = {
    val path = s"$dir/probe.tsv"
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      "lon\tlat\tid\nn/a\t40.7\t1\n-73.9\t40.7\t2\n".getBytes("UTF-8"))
    try { Gis.ingestTsv(spark, path).count(); "ok" }
    catch { case scala.util.control.NonFatal(e) => "fails: " + e.getClass.getSimpleName }
  }
}
