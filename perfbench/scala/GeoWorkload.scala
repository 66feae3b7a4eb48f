package perfbench

import graft.api.Gis
import graft.geo.{Geom, GeohashPruning}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/**
 * geo_point_queries: the paper's read path. Each set-up repetition writes a
 * geohash-partitioned point table (`Gis.bulkIngest` +
 * `Gis.writePointsPartitioned`), runs the write path on a wifi-style TSV feed
 * ([[Ingest]], checked) and answers one query of each kind; the closed loop
 * then issues a seeded mix of `Gis.within` and `Gis.knn` on the table.
 *
 * The table is a uniform background over a 1°×1° bbox plus dense clusters,
 * so KNN centers fall in dense areas (the 9-cell geohash probe answers) or
 * sparse ones (the probe is short of k and `Gis.knn` widens to a full-table
 * job). Ops come in blocks of 10 with fixed proportions — 2 rectangles,
 * 2 convex polygons and 1 MULTIPOLYGON, 4 dense and 1 sparse KNN, with
 * stratified areas and k — in a seeded order, so every run has the same mix
 * whatever its length and seed.
 */
object GeoWorkload {
  val Bbox = (-76.0, -75.0, 44.0, 45.0) // lonMin, lonMax, latMin, latMax
  val BackgroundPoints = 60000L
  val Clusters = 4
  val ClusterPoints = 15000L
  val ClusterHalfDeg = 0.01
  val PrefixLen = 4
  /** ~15k rows per file, near the ~31k that the default 64 files give at
    * `graft.Bench`'s 2M-point storage pass. */
  val NumFiles = 8
  /** Two: a repetition costs ~7 s warm and ~15 s cold on 4 cores, and a
    * run has to stay near 45 s. */
  val SetupReps = 2
  val MinAreaDeg2 = 1e-5
  val MaxAreaDeg2 = 0.2

  sealed trait Op { def kind: String }
  final case class Within(wkt: String) extends Op { def kind = "within" }
  final case class Knn(lon: Double, lat: Double, k: Int, dense: Boolean) extends Op { def kind = "knn" }

  private final case class Point(id: String, lon: Double, lat: Double, geohash: String)

  def run(ctx: RunCtx): WorkloadResult = {
    import ctx.{spark, trace}
    val rnd = new java.util.SplittableRandom(ctx.seed)
    val centers = clusterCenters(rnd)
    val warm +: blocks = (0 to 60).map(_ => block(rnd, centers))
    val input = pointTable(spark, ctx.seed, centers)

    // set-up: build the serving table, run the write path on the TSV feed,
    // and answer one query of each kind
    val warmW = warm.collectFirst { case w: Within => w }.get
    val warmK = warm.collectFirst { case k: Knn => k }.get
    val tsv = s"${ctx.dataDir}/wifi.tsv"
    val tsvRows = ctx.opts("tsv-rows").toLong
    val tsvBytes = ctx.opts("tsv-bytes").toDouble
    val tsvKeys = ctx.opts("tsv-distinct-geohashes").toLong
    val written = ArrayBuffer.empty[Ingest.Written]
    var dir = ""
    val setupReps = (1 to SetupReps).map { rep =>
      val prev = dir
      dir = s"${ctx.dataDir}/points_$rep"
      val out = s"${ctx.dataDir}/ingest_$rep"
      var ingestMs = 0.0
      val s = trace.op("setup", traced = true) {
        trace.span("setup.point_table")(
          Gis.writePointsPartitioned(input, dir, prefixLen = PrefixLen, numFiles = NumFiles))
        ingestMs = Stats.timeS(Ingest.write(ctx.spark, trace, tsv, out)) * 1000
        val pts = spark.read.parquet(dir)
        Gis.within(pts, warmW.wkt).groupBy().count().head()
        Gis.knn(pts, warmK.lon, warmK.lat, warmK.k).collect()
      }
      written += Ingest.check(spark, out, tsvKeys + (if (ctx.corrupt && rep == 1) 1 else 0),
        if (s.ok) ingestMs else Double.NaN)
      if (prev.nonEmpty) Files.delete(prev)
      s.ms / 1000.0
    }
    val probes = Map("ingest_nonnumeric_lonlat" -> Ingest.nonNumericProbe(spark, ctx.dataDir))

    // closed loop, one client: whole blocks while the next one still fits
    val pts = spark.read.parquet(dir)
    val samples = ArrayBuffer.empty[OpSample]
    val withinRes = ArrayBuffer.empty[(Within, Long, DataFrame, Boolean)]
    val knnRes = ArrayBuffer.empty[(Knn, Seq[(String, Double)], Boolean)]
    var b = 0
    while (b < blocks.size && ctx.nextFits(samples.map(_.ms).sum, b)) {
      blocks(b).foreach { op =>
        val traced = samples.size % 2 == 0 // a traced run traces every other query
        op match {
          case w: Within =>
            var n = 0L; var agg: DataFrame = null
            val s = trace.op(w.kind, traced) {
              val df = trace.span("api.within_build")(Gis.within(pts, w.wkt))
              agg = df.groupBy().count()
              n = trace.span("api.within_action")(agg.head().getLong(0))
            }
            samples += s
            if (s.ok) withinRes += ((w, n, agg, s.traced))
          case k: Knn =>
            var rows: Array[Row] = null
            val s = trace.op(k.kind, traced) {
              val df = trace.span("api.knn_call")(Gis.knn(pts, k.lon, k.lat, k.k))
              rows = trace.span("api.knn_action")(df.collect())
            }
            samples += s
            if (s.ok) knnRes += ((k, rows.map(r => (r.getAs[String]("id"), r.getAs[Double]("distance"))).toSeq, s.traced))
        }
      }
      b += 1
    }

    // correctness, outside the timed window
    val cached = pts.cache()
    val wkts = withinRes.map(_._1.wkt).distinct
    val expected = if (wkts.isEmpty) Map.empty[String, Long] else wkts.zipWithIndex.map {
      case (wkt, i) => Gis.within(cached, wkt, prune = false).groupBy().count().withColumn("q", lit(i))
    }.reduce(_ unionByName _).collect().map(r => wkts(r.getInt(1)) -> r.getLong(0)).toMap
    val table = cached.select("id", "lon", "lat", "geohash").collect()
      .map(r => Point(r.getString(0), r.getDouble(1), r.getDouble(2), r.getString(3)))
    cached.unpersist(blocking = true)
    val withinBad = withinRes.zipWithIndex.count { case ((w, n, _, _), i) =>
      n != expected(w.wkt) + (if (ctx.corrupt && i == 0) 1 else 0)
    }
    val knnBad = knnRes.count { case (k, got, _) => got != exactKnn(table, k) }

    val ingestBad = written.count(!_.ok)

    val within = samples.filter(_.kind == "within").map(_.ms).toSeq
    val knn = samples.filter(_.kind == "knn").map(_.ms).toSeq
    val detail = Map(
      "within_ms_p50" -> Stats.quantile(within, 0.5), "within_ms_p90" -> Stats.quantile(within, 0.9),
      "knn_ms_p50" -> Stats.quantile(knn, 0.5), "knn_ms_p90" -> Stats.quantile(knn, 0.9),
      "geo_ops_per_s" -> samples.size / (samples.map(_.ms).sum / 1000.0),
      "within_samples" -> within.size.toDouble, "knn_samples" -> knn.size.toDouble,
      "ingest_rows_per_s" -> tsvRows / (Stats.median(written.map(_.ms).toSeq) / 1000.0),
      "stored_bytes_per_input_byte" -> Stats.median(written.map(_.bytes / tsvBytes).toSeq))
    val layers = if (!trace.enabled) Map.empty[String, Double]
      else geoLayers(ctx, withinRes.filter(_._4).toSeq, knnRes.filter(_._3).map(_._1).toSeq, table) ++
        Ingest.layers(spark, trace, written.toSeq, tsvRows, tsvBytes)
    WorkloadResult(setupReps, samples.toSeq, samples.size + written.size,
      samples.count(!_.ok) + withinBad + knnBad + ingestBad,
      Map("points" -> (BackgroundPoints + Clusters * ClusterPoints), "clusters" -> Clusters,
        "within_queries" -> within.size, "knn_queries" -> knn.size,
        "knn_sparse_queries" -> blocks.take(b).flatten.count { case k: Knn => !k.dense; case _ => false },
        "prefix_len" -> PrefixLen, "num_files" -> NumFiles, "ingest_ops" -> written.size),
      detail, layers, probes)
  }

  /** The point table: uniform background plus `Clusters` dense squares,
    * each a `Gis.bulkIngest` frame (cluster ids prefixed to stay unique). */
  def pointTable(spark: SparkSession, seed: Long, centers: Seq[(Double, Double)]): DataFrame = {
    val (x0, x1, y0, y1) = Bbox
    val bg = Gis.bulkIngest(spark, BackgroundPoints, x0, x1, y0, y1, seed = seed)
    val dense = centers.zipWithIndex.map { case ((x, y), c) =>
      Gis.bulkIngest(spark, ClusterPoints, x - ClusterHalfDeg, x + ClusterHalfDeg,
          y - ClusterHalfDeg, y + ClusterHalfDeg, seed = seed * 31 + c + 1)
        .withColumn("id", concat(lit(s"c$c-"), col("id")))
    }
    (bg +: dense).reduce(_ unionByName _)
  }

  private def uniform(r: java.util.SplittableRandom, lo: Double, hi: Double): Double =
    lo + r.nextDouble() * (hi - lo)

  private def clusterCenters(r: java.util.SplittableRandom): Seq[(Double, Double)] = {
    val (x0, x1, y0, y1) = Bbox
    val out = ArrayBuffer.empty[(Double, Double)]
    while (out.size < Clusters) {
      val c = (uniform(r, x0 + 0.1, x1 - 0.1), uniform(r, y0 + 0.1, y1 - 0.1))
      if (out.forall(o => math.abs(o._1 - c._1).max(math.abs(o._2 - c._2)) > 0.1)) out += c
    }
    out.toSeq
  }

  private def block(r: java.util.SplittableRandom, centers: Seq[(Double, Double)]): Seq[Op] = {
    // areas and dense k values are stratified: each block holds one query per
    // fifth of the log-area range and each dense k once, so the seed moves
    // positions and shapes but not the mix of query sizes
    val shuffled = new scala.util.Random(r.nextLong())
    val strata = shuffled.shuffle((0 until 5).toList).iterator
    def area = {
      val (lo, hi) = (math.log10(MinAreaDeg2), math.log10(MaxAreaDeg2))
      math.pow(10, lo + (strata.next() + r.nextDouble()) / 5 * (hi - lo))
    }
    val within = Seq.fill(2)(Within(polygonWkt(rect(r, area)))) ++
      Seq.fill(2)(Within(polygonWkt(convex(r, area)))) ++
      Seq.fill(1) {
        val parts = 2 + r.nextInt(2)
        val a = area / parts
        Within(Seq.fill(parts)(if (r.nextBoolean()) rect(r, a) else convex(r, a))
          .map(ring => "(" + ringText(ring) + ")").mkString("MULTIPOLYGON (", ", ", ")"))
      }
    val dense = shuffled.shuffle(Seq(1, 5, 10, 20)).map { k =>
      val (cx, cy) = centers(r.nextInt(centers.size))
      val inner = ClusterHalfDeg * 0.6
      Knn(uniform(r, cx - inner, cx + inner), uniform(r, cy - inner, cy + inner), k, dense = true)
    }
    val sparse = {
      val (x0, x1, y0, y1) = Bbox
      var p = (0.0, 0.0)
      do p = (uniform(r, x0 + 0.02, x1 - 0.02), uniform(r, y0 + 0.02, y1 - 0.02))
      while (centers.exists(c => math.abs(c._1 - p._1).max(math.abs(c._2 - p._2)) < 3 * ClusterHalfDeg))
      Knn(p._1, p._2, Seq(5, 10)(r.nextInt(2)), dense = false)
    }
    shuffled.shuffle(within ++ dense :+ sparse)
  }

  private type Ring = Seq[(Double, Double)]

  /** Axis-aligned rectangle of the given area, aspect in [1/2, 2], inside the bbox. */
  private def rect(r: java.util.SplittableRandom, area: Double): Ring = {
    val (x0, x1, y0, y1) = Bbox
    val aspect = math.exp(uniform(r, math.log(0.5), math.log(2)))
    val w = math.min(math.sqrt(area * aspect), x1 - x0); val h = math.min(area / w, y1 - y0)
    val x = uniform(r, x0, x1 - w); val y = uniform(r, y0, y1 - h)
    Seq((x, y), (x + w, y), (x + w, y + h), (x, y + h))
  }

  /** Convex polygon of 5–8 vertices on an ellipse, counter-clockwise, inside the bbox. */
  private def convex(r: java.util.SplittableRandom, area: Double): Ring = {
    val (x0, x1, y0, y1) = Bbox
    val n = 5 + r.nextInt(4)
    val aspect = math.exp(uniform(r, math.log(0.5), math.log(2)))
    val a = math.min(math.sqrt(area * aspect / math.Pi) * 1.15, (x1 - x0) / 2)
    val b = math.min(math.sqrt(area / aspect / math.Pi) * 1.15, (y1 - y0) / 2)
    val cx = uniform(r, x0 + a, x1 - a); val cy = uniform(r, y0 + b, y1 - b)
    val step = 2 * math.Pi / n
    (0 until n).map { i =>
      val t = i * step + uniform(r, 0.1, 0.9) * step
      (cx + a * math.cos(t), cy + b * math.sin(t))
    }
  }

  private def ringText(ring: Ring): String =
    (ring :+ ring.head).map { case (x, y) => s"$x $y" }.mkString("(", ", ", ")")

  private def polygonWkt(ring: Ring): String = "POLYGON (" + ringText(ring) + ")"

  /** Full-table distance sort with an id tiebreak, computed on the driver
    * with `st_distance_euclidean`'s arithmetic. */
  private def exactKnn(table: Array[Point], q: Knn): Seq[(String, Double)] = {
    def dist(p: Point) = { val dx = q.lon - p.lon; val dy = q.lat - p.lat; math.sqrt(dx * dx + dy * dy) }
    val ord = Ordering.by[(String, Double), (Double, String)](t => (t._2, t._1))
    val heap = scala.collection.mutable.PriorityQueue.empty[(String, Double)](ord)
    table.foreach { p =>
      val t = (p.id, dist(p))
      if (heap.size < q.k) heap.enqueue(t)
      else if (ord.lt(t, heap.head)) { heap.dequeue(); heap.enqueue(t) }
    }
    heap.toSeq.sorted(ord)
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case s: QueryStageExec => scans(s.plan)
    case f: FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(scans)
  }

  /** Mean microseconds of `f` over `reps` calls. */
  private def micros(reps: Int)(f: => Any): Double = {
    val t0 = System.nanoTime(); var i = 0
    while (i < reps) { f; i += 1 }
    (System.nanoTime() - t0) / 1e3 / reps
  }

  private def geoLayers(ctx: RunCtx, within: Seq[(Within, Long, DataFrame, Boolean)],
                        knn: Seq[Knn], table: Array[Point]): Map[String, Double] = {
    import ctx.{spark, trace}
    val wkts = within.map(_._1.wkt)
    val geoms = wkts.map(Geom.parseWkt)
    val prefixes = geoms.map(g => GeohashPruning.minimumBoundingPrefixes(g))
    // storage touched: planning-time listing with the partition filters applied
    val listed = within.map { case (_, _, agg, _) =>
      val sel = scans(agg.queryExecution.executedPlan).flatMap(f =>
        f.relation.location.listFiles(f.partitionFilters, f.dataFilters))
      (sel.map(_.files.size).sum.toDouble, sel.flatMap(_.files).map(_.getLen).sum.toDouble)
    }
    // rows passing the bbox and prefix filters, counted over the same table
    val candidates = geoms.zip(prefixes).map { case (g, ps) =>
      val (x0, x1, y0, y1) = g.bbox
      table.count(p => p.lon >= x0 && p.lon <= x1 && p.lat >= y0 && p.lat <= y1 &&
        ps.forall(_.exists(p.geohash.startsWith))).toDouble
    }
    val matched = within.map(_._2.toDouble).sum
    val widened = trace.jobsUnder("api.knn_action").count(_ > 0)
    val covers = graft.sql.functions.st_covers(
      "POLYGON ((-75.8 44.2, -75.3 44.1, -75.1 44.6, -75.5 44.9, -75.9 44.6, -75.8 44.2))",
      col("lon"), col("lat"))
    val dist = graft.sql.functions.st_distance_euclidean(col("lon"), col("lat"),
      lit(-75.5), lit(44.5))
    Map(
      "geo.parse_wkt_us" -> Stats.mean(wkts.map(w => micros(200)(Geom.parseWkt(w)))),
      "geo.bounding_prefixes_us" -> Stats.mean(geoms.map(g =>
        micros(20)(GeohashPruning.minimumBoundingPrefixes(g)))),
      "geo.prefixes_per_within" -> Stats.mean(prefixes.map(_.fold(0.0)(_.size.toDouble))),
      "geo.knn_prefixes_us" -> Stats.mean(knn.map(k =>
        micros(200)(GeohashPruning.knnPrefixes(k.lon, k.lat)))),
      "api.within_build_ms" -> Stats.mean(trace.durations("api.within_build")),
      "api.within_action_ms" -> Stats.mean(trace.durations("api.within_action")),
      "api.knn_call_ms" -> Stats.mean(trace.durations("api.knn_call")),
      "api.knn_action_ms" -> Stats.mean(trace.durations("api.knn_action")),
      "scan.files_per_within" -> Stats.mean(listed.map(_._1)),
      "scan.bytes_per_within" -> Stats.mean(listed.map(_._2)),
      "scan.candidates_per_match" -> (if (matched > 0) candidates.sum / matched else 0.0),
      "knn.widened_share" -> (if (knn.isEmpty) 0.0 else widened.toDouble / knn.size),
      "sql.st_covers_rows_per_s" -> SqlBench.rowsPerS(spark, covers),
      "sql.distance_rows_per_s" -> SqlBench.rowsPerS(spark, dist))
  }
}

/** Rows/s of a fixed-size `spark.range` projection through one public function. */
object SqlBench {
  val Rows = 1000000L

  /** `lon`/`lat` sweep a 1000×1000 grid over the geo bbox. */
  def grid(spark: SparkSession): DataFrame = spark.range(Rows).select(
    (lit(-76.0) + (col("id") % 1000) / 1000.0).as("lon"),
    (lit(44.0) + (col("id") / 1000 % 1000).cast("long") / 1000.0).as("lat"))

  def rowsPerS(spark: SparkSession, f: org.apache.spark.sql.Column): Double =
    rate(grid(spark).select(f.as("v")).agg(max(col("v"))))

  /** Rows/s of the bounded-heap grouped top-N (`TopNByOrd`, via `Gis.topXAgg`). */
  def topNRowsPerS(spark: SparkSession): Double = rate(graft.api.Gis.topXAgg(
      spark.range(Rows).select((col("id") % 1000).as("g"), xxhash64(col("id")).as("o"), col("id")),
      "g", "o", "id", 3).agg(count(lit(1))))

  /** Median of 3 timed executions after one warm-up. */
  private def rate(q: DataFrame): Double = {
    q.head()
    Rows / Stats.median((1 to 3).map(_ => Stats.timeS(q.head())))
  }
}

object Files {
  def delete(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(x => java.nio.file.Files.delete(x))
  }
}
