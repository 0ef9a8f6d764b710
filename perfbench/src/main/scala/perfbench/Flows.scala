package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{AggSchema, Conversions, Dates, Geometry, Joins, Pipeline,
  Relational, Sinks}
import graft.llm.{Curation, Dedup, Shaping, Text}

/** One operation of a workload's closed loop and its output directory. */
final case class Op(key: String, out: String)

/** A user-shaped flow through the engine's public API. `run` is one
  * operation from input files to committed output; `layers` splits the
  * same flow into per-stage numbers for the traced run.
  */
trait Flow {
  def run(k: Int, t: Tracer): Op
  def layers(t: Tracer, p: Prefixes): Map[String, Double]
}

object Flow {
  def apply(name: String, spark: SparkSession, work: Path): Flow = name match {
    case "era5_area"       => new Era5Area(spark, work)
    case "station_gapfill" => new StationGapfill(spark, work)
    case "llm_curation"    => new LlmCuration(spark, work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def dataFiles(p: Path, ext: String): Int = {
    val s = Files.walk(p)
    try s.iterator().asScala.count(f => f.getFileName.toString.startsWith("part-") &&
      f.toString.endsWith(ext))
    finally s.close()
  }
}

/** Times `noop` writes of a chain's prefixes: a stage's execute time is
  * its prefix's time minus the prefix before it, which keeps Catalyst's
  * fusion of neighbouring stages out of the attribution.
  */
final class Prefixes(spark: SparkSession, listener: GroupListener) {
  private val sc = spark.sparkContext
  private var calls = 0

  /** Seconds and counters of `body`, run under a job group of its own. */
  def action[T](name: String)(body: => T): (Double, Counters, T) = {
    calls += 1
    val group = s"prefix:$calls:$name"
    sc.setJobGroup(group, name)
    val t0 = System.nanoTime
    val r = body
    val s = (System.nanoTime - t0) / 1e9
    sc.clearJobGroup()
    org.apache.spark.perfbench.Bus.drain(sc)
    (s, listener.counters(group), r)
  }

  /** Seconds to execute `df` into a discarding sink, and its counters. */
  def time(name: String, df: DataFrame): (Double, Counters) = {
    val (s, c, _) = action(name)(df.write.format("noop").mode("overwrite").save())
    (s, c)
  }
}

/** The reference's process stage at volume: NetCDF read → rename → CO₂
  * and WTD enrich → bbox clip → predictor conversions → monthly resample
  * → sink partitioned by region.
  */
final class Era5Area(spark: SparkSession, work: Path) extends Flow {
  private val in = work.resolve("in")
  private val ncDir = in.resolve("era5").toString
  private val wtdDir = in.resolve("wtd").toString

  // WTD raster geometry, as gen.py lays it out (the tiled writer carries no
  // georeference); a drift between the two shows as an oracle mismatch
  private val WtdLat0 = 50.03
  private val WtdLon0 = -100.04
  private val WtdRes = 0.1

  private val renames = Map("time" -> "timestamp",
    "t2m" -> "temperature_2m", "d2m" -> "dewpoint_temperature_2m",
    "sp" -> "surface_pressure", "u10" -> "u_wind_10m", "v10" -> "v_wind_10m",
    "avg_sdswrf" -> "shortwave_down", "tp" -> "total_precipitation")

  private val predictors: Map[String, Column] = {
    val t = col("temperature_2m"); val d = col("dewpoint_temperature_2m")
    val sp = col("surface_pressure")
    Map(
      "TA" -> Conversions.convert("TA", Seq(t)),
      "RH" -> Conversions.convert("RH", Seq(t, d)),
      "VPD" -> Conversions.convert("VPD", Seq(t, d)),
      "PA" -> Conversions.convert("PA", Seq(sp)),
      "WS" -> Conversions.convert("WS", Seq(col("u_wind_10m"), col("v_wind_10m"))),
      "SW_IN" -> Conversions.convert("SW_IN", Seq(col("shortwave_down"))),
      "P" -> Conversions.convert("P", Seq(col("total_precipitation"))),
      "CO2" -> Conversions.convert("CO2", Seq(t, d, sp, col("xco2"))),
      "WTD" -> Conversions.convert("WTD", Seq(col("wtd"))))
  }

  private def grid(t: Tracer): DataFrame =
    t.span("sources.NetCDF.load", build = true) {
      spark.read.format("netcdf").load(ncDir)
    }.withColumn("month", Dates.monthStart(col("time")))

  private def wtdRaster(t: Tracer): DataFrame =
    t.span("sources.GeoTIFF.load", build = true) {
      spark.read.format("geotiff").load(wtdDir)
    }.select(Dates.monthStart(Dates.filenameDate(col("file"))).as("month"),
      (lit(WtdLat0) - col("y") * WtdRes).as("wlat"),
      (lit(WtdLon0) + col("x") * WtdRes).as("wlon"),
      col("value").as("wtd"))

  /** Each ERA5 coordinate mapped to its nearest WTD coordinate. */
  private def coordMaps(g: DataFrame, w: DataFrame): (DataFrame, DataFrame) =
    (Joins.nearestCoordMapping(g, "latitude", w, "wlat", "wlat_n"),
      Joins.nearestCoordMapping(g, "longitude", w, "wlon", "wlon_n"))

  private def wtdSide(w: DataFrame, maps: (DataFrame, DataFrame)): DataFrame = {
    val (latMap, lonMap) = maps
    w.join(latMap, col("wlat") === col("wlat_n"))
      .join(lonMap, col("wlon") === col("wlon_n"))
      .select(col("month"), col("latitude"), col("longitude"), col("wtd"))
  }

  private def co2: DataFrame = spark.read.parquet(in.resolve("co2").toString)

  private def regions: DataFrame = {
    val ring = from_json(col("coordinates_json"),
      org.apache.spark.sql.types.DataType.fromDDL("array<array<array<double>>>"))
      .getItem(0)
    Geometry.readGeoJson(spark, in.resolve("regions.geojson").toString)
      .select(col("region_id"),
        array_min(transform(ring, p => p.getItem(1))).as("s"),
        array_max(transform(ring, p => p.getItem(1))).as("n"),
        array_min(transform(ring, p => p.getItem(0))).as("w"),
        array_max(transform(ring, p => p.getItem(0))).as("e"))
  }

  private def sides(g: DataFrame, t: Tracer): Seq[(DataFrame, Seq[String])] = {
    val w = wtdRaster(t)
    Seq(co2 -> Seq("month"),
      wtdSide(w, coordMaps(g, w)) -> Seq("month", "latitude", "longitude"))
  }

  def run(k: Int, t: Tracer): Op = {
    val out = work.resolve("out").resolve(f"run$k%03d").toString
    val g = grid(t)
    val df = t.span("engine.Pipeline.areaProcess", build = true) {
      Pipeline.areaProcess(g, renames, sides(g, t), Some(regions),
        "latitude", "longitude", "timestamp", predictors, Some(AggSchema.Monthly))
    }
    t.span("engine.Sinks.writePartitioned") {
      Sinks.writePartitioned(df, out, Seq("region_id"))
    }
    Op(s"run$k", out)
  }

  def layers(t: Tracer, p: Prefixes): Map[String, Double] = {
    val t0 = System.nanoTime
    val g0 = spark.read.format("netcdf").load(ncDir)
    val planS = (System.nanoTime - t0) / 1e9
    val files = Files.list(Paths.get(ncDir))
    val nFiles = try files.iterator().asScala.size finally files.close()
    val (scanS, _) = p.time("scan", g0)
    val g = g0.withColumn("month", Dates.monthStart(col("time")))
    val w = wtdRaster(t)
    val (gtS, _) = p.time("geotiff", w)
    val maps = coordMaps(g, w)
    val (mapS, _) = p.time("coordmap", maps._1.unionByName(
      maps._2.select(col("longitude").as("latitude"), col("wlon_n").as("wlat_n"))))
    val side = wtdSide(w, maps)
    val (sideS, _) = p.time("wtdside", side)
    val renamed = Relational.applyRename(g, renames)
    val (renS, _) = p.time("rename", renamed)
    val enriched = sides(g, t).foldLeft(renamed) { case (d, (s, keys)) =>
      Joins.enrich(d, s, keys) }
    val (enrS, _) = p.time("enrich", enriched)
    val clipped = Joins.bboxClip(enriched, regions, "latitude", "longitude")
    val (clipS, _) = p.time("clip", clipped)
    val keys = Seq("region_id", "latitude", "longitude")
    val converted = clipped.select((keys :+ "timestamp").map(col) ++
      predictors.toSeq.sortBy(_._1).map { case (n, e) => e.as(n) }: _*)
    val (convS, convC) = p.time("convert", converted)
    val agg = AggSchema.resample(converted, AggSchema.Monthly, "timestamp", keys)
    val (aggS, aggC) = p.time("resample", agg)
    val out = work.resolve("out").resolve("layers")
    val (sinkS, _, _) = p.action("sink")(
      Sinks.writePartitioned(agg, out.toString, Seq("region_id")))
    Map(
      "sources.NetCDF.plan_s" -> planS,
      "sources.NetCDF.scan_s" -> scanS,
      "sources.NetCDF.rows" -> g0.count().toDouble,
      "sources.NetCDF.input_mb" -> Flow.dirBytes(Paths.get(ncDir)) / 1048576.0,
      "sources.NetCDF.partitions" -> g0.rdd.getNumPartitions.toDouble,
      "sources.NetCDF.files" -> nFiles.toDouble,
      "sources.GeoTIFF.scan_s" -> gtS,
      "sources.GeoTIFF.rows" -> w.count().toDouble,
      "engine.Joins.nearestCoordMapping.exec_s" -> mapS,
      "engine.Joins.enrich.exec_s" -> (enrS - renS - sideS),
      "engine.Joins.bboxClip.exec_s" -> (clipS - enrS),
      "engine.Joins.bboxClip.rows_in" -> enriched.count().toDouble,
      "engine.Joins.bboxClip.rows_out" -> clipped.count().toDouble,
      "engine.Conversions.exec_s" -> (convS - clipS),
      "engine.Conversions.rows" -> converted.count().toDouble,
      "engine.AggSchema.resample.exec_s" -> (aggS - convS),
      "engine.AggSchema.resample.shuffle_mb" ->
        (aggC.shuffleWrite - convC.shuffleWrite) / 1048576.0,
      "engine.AggSchema.resample.groups" -> agg.count().toDouble,
      "engine.Sinks.writePartitioned.exec_s" -> (sinkS - aggS),
      "engine.Sinks.writePartitioned.files" -> Flow.dataFiles(out, ".parquet").toDouble,
      "engine.Sinks.writePartitioned.output_mb" -> Flow.dirBytes(out) / 1048576.0
    )
  }
}

/** The reference's point flow, one station per operation: station CSV and
  * a one-point ERA5 NetCDF → `Pipeline.gapFill` over a checked range →
  * CSV sink.
  */
final class StationGapfill(spark: SparkSession, work: Path) extends Flow {
  private val in = work.resolve("in")
  private val stations: IndexedSeq[String] = {
    val s = Files.list(in)
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("st")).toIndexedSeq.sorted
    finally s.close()
  }
  // the requested range, as gen.py's STATION_RANGE (a drift shows as an
  // oracle mismatch)
  private val Range = ("2019-02-01 00:00:00", "2020-11-30 23:00:00")
  private val predictors = Seq("PA", "RH", "TA", "WS")
  private val era5Exprs: Map[String, Column] = Map(
    "TA" -> Conversions.convert("TA", Seq(col("t2m"))),
    "RH" -> Conversions.convert("RH", Seq(col("t2m"), col("d2m"))),
    "PA" -> Conversions.convert("PA", Seq(col("sp"))),
    "WS" -> Conversions.convert("WS", Seq(col("u10"), col("v10"))))
  private val schema = "timestamp STRING, PA DOUBLE, RH DOUBLE, TA DOUBLE, WS DOUBLE"

  private def station(k: Int): String = stations(k % stations.size)

  private def csv(sid: String): DataFrame = spark.read.schema(schema)
    .option("header", "true").csv(in.resolve(sid).resolve("station.csv").toString)

  private def point(sid: String, t: Tracer): DataFrame =
    t.span("sources.NetCDF.load", build = true) {
      spark.read.format("netcdf")
        .load(in.resolve(sid).resolve("era5_point.nc").toString)
    }.withColumnRenamed("time", "timestamp")

  def run(k: Int, t: Tracer): Op = {
    val sid = station(k)
    val out = work.resolve("out").resolve(f"op$k%04d_$sid").toString
    val filled = t.span("engine.Pipeline.gapFill", build = true) {
      Pipeline.gapFill(csv(sid), point(sid, t), "timestamp", predictors,
        era5Exprs, Some(Range))
    }
    t.span("engine.Sinks.writeCsv")(Sinks.writeCsv(filled, out))
    Op(sid, out)
  }

  def layers(t: Tracer, p: Prefixes): Map[String, Double] = {
    // median over a few stations: each stage is sub-second here
    val per = (0 until 5).map(i => one(stations(i), p, t))
    per.head.keys.map(k => k -> Stats.median(per.map(_(k)))).toMap
  }

  private def one(sid: String, p: Prefixes, t: Tracer): Map[String, Double] = {
    val ts = "timestamp"
    val raw = csv(sid)
    val (csvS, _) = p.time("csv", raw)
    val parsed = raw.withColumn(ts, Dates.parseTimestamp(col(ts).cast("string")))
      .filter(col(ts).isNotNull)
    val (parseS, _) = p.time("parse", parsed)
    val t0 = System.nanoTime
    val era5 = spark.read.format("netcdf")
      .load(in.resolve(sid).resolve("era5_point.nc").toString)
      .withColumnRenamed("time", ts)
    val planS = (System.nanoTime - t0) / 1e9
    val (scanS, _) = p.time("scan", era5)
    val (boundsS, _, _) = p.action("timeBounds")(
      Relational.timeBounds(parsed, ts).collect())
    val missing = Relational.anyNull(Relational.topOfHour(
      Relational.timeRange(parsed, ts, Range._1, Range._2), ts), predictors)
    val (missS, _) = p.time("missing", missing)
    val joined = Joins.gapfillAlign(missing, era5, ts)
    val (joinS, joinC) = p.time("align", joined)
    val (buildS, _, filled) = p.action("gapFill")(
      Pipeline.gapFill(raw, era5, ts, predictors, era5Exprs, Some(Range)))
    val (fillS, _) = p.time("filled", filled)
    val out = work.resolve("out").resolve(s"layers_$sid")
    val (sinkS, _, _) = p.action("sink")(Sinks.writeCsv(filled, out.toString))
    val ncPath = in.resolve(sid).resolve("era5_point.nc")
    Map(
      "sources.NetCDF.plan_s" -> planS,
      "sources.NetCDF.scan_s" -> scanS,
      "sources.NetCDF.rows" -> era5.count().toDouble,
      "sources.NetCDF.input_mb" -> Files.size(ncPath) / 1048576.0,
      "sources.NetCDF.partitions" -> era5.rdd.getNumPartitions.toDouble,
      "sources.NetCDF.files" -> 1.0,
      "engine.Dates.parseTimestamp.exec_s" -> (parseS - csvS),
      "engine.Relational.timeBounds.build_s" -> boundsS,
      "engine.Pipeline.gapFill.build_s" -> buildS,
      "engine.Joins.gapfillAlign.exec_s" -> (joinS - missS - scanS),
      "engine.Joins.gapfillAlign.shuffle_mb" -> joinC.shuffleWrite / 1048576.0,
      "engine.Conversions.exec_s" -> (fillS - joinS),
      "engine.Conversions.rows" -> filled.count().toDouble,
      "engine.Sinks.writeCsv.exec_s" -> (sinkS - fillS),
      "engine.Sinks.writeCsv.files" -> Flow.dataFiles(out, ".csv").toDouble)
  }
}

/** The curation chain as one job: feature gate → exact dedup → fuzzy
  * dedup (eager LSH + verify) → duplicate clusters (the iterative loop) →
  * prune → decontaminate → per-language cap → sequence packing → parquet.
  */
final class LlmCuration(spark: SparkSession, work: Path) extends Flow {
  private val in = work.resolve("in")
  private val MinQuality = 0.3
  private val MinJaccard = 0.8
  private val Ngram = 8
  private val Cap = 1500
  private val Budget = 2048

  private def docs = spark.read.parquet(in.resolve("docs").toString)
  private def evalSet = spark.read.parquet(in.resolve("eval").toString)
    .select(col("eval_id").as("doc_id"), col("text"))

  private def features(d: DataFrame): DataFrame =
    d.select(col("doc_id"), col("text"), col("source"),
        Text.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("text"), col("source"),
        Text.langIdFromTokens(col("toks")).as("lang_pred"),
        Text.qualityScoreFromTokens(col("text"), col("toks")).as("q"))
      .filter(col("q") >= MinQuality)
      .drop("q")

  private def exactKept(f: DataFrame): DataFrame =
    f.join(Dedup.exact(f, "doc_id", "text").select(col("keep_id").as("doc_id")),
      Seq("doc_id"), "left_semi")

  private def decontaminate(d: DataFrame): (DataFrame, DataFrame) = {
    val report = Curation.contaminationReport(d.select(col("doc_id"), col("text")),
      evalSet, "doc_id", "text", Ngram)
    (d.join(report.filter(!col("contaminated")).select(col("doc_id")),
      Seq("doc_id"), "left_semi"), report)
  }

  private def pack(d: DataFrame): DataFrame = Shaping.packSequences(
    Curation.capPerGroupByContent(d, "lang_pred", "doc_id", "text", Cap),
    "doc_id", "text", "source", Budget)

  def run(k: Int, t: Tracer): Op = {
    val out = work.resolve("out").resolve(f"run$k%03d").toString
    val kept = exactKept(features(docs))
    val pairs = t.span("llm.Dedup.fuzzyDuplicates", build = true) {
      Dedup.fuzzyDuplicates(kept, "doc_id", "text", 3, 16, 4, MinJaccard)
    }
    val clusters = t.span("llm.Dedup.duplicateClusters", build = true) {
      Dedup.duplicateClusters(pairs, "doc_a", "doc_b")
    }
    val (clean, _) = decontaminate(Dedup.pruneDuplicates(kept, "doc_id", clusters))
    t.span("engine.Sinks.parquet")(Sinks.writeCompressed(pack(clean), out, Nil))
    Op(s"run$k", out)
  }

  def layers(t: Tracer, p: Prefixes): Map[String, Double] = {
    val d = docs
    val (scanS, _) = p.time("scan", d)
    val f = features(d)
    val (featS, _) = p.time("features", f)
    val kept = exactKept(f)
    val (exactS, _) = p.time("exact", kept)
    val (fuzzyS, fuzzyC, pairs) = p.action("fuzzy")(
      Dedup.fuzzyDuplicates(kept, "doc_id", "text", 3, 16, 4, MinJaccard))
    val (clusterS, clusterC, clusters) = p.action("clusters")(
      Dedup.duplicateClusters(pairs, "doc_a", "doc_b"))
    val pruned = Dedup.pruneDuplicates(kept, "doc_id", clusters)
    val (pruneS, _) = p.time("prune", pruned)
    val (clean, report) = decontaminate(pruned)
    val (cleanS, _) = p.time("decontaminate", clean)
    val capped = Curation.capPerGroupByContent(clean, "lang_pred", "doc_id", "text", Cap)
    val (capS, _) = p.time("cap", capped)
    val packed = pack(clean)
    val (packS, _) = p.time("pack", packed)
    val out = work.resolve("out").resolve("layers")
    val (sinkS, _, _) = p.action("sink")(
      Sinks.writeCompressed(packed, out.toString, Nil))
    val nIn = d.count(); val nKept = f.count(); val nExact = kept.count()
    val cands = Dedup.minhashCandidates(kept, "doc_id", "text", 3, 16, 4,
      minEstJaccard = 0.3).count()
    val bins = packed.select(col("source"), col("bin")).distinct().count()
    val tokens = packed.agg(sum(col("n_tokens"))).head().getLong(0)
    Map(
      "llm.Text.features.exec_s" -> (featS - scanS),
      "llm.Text.features.docs_in" -> nIn.toDouble,
      "llm.Text.features.docs_kept" -> nKept.toDouble,
      "llm.Dedup.exact.exec_s" -> (exactS - featS),
      "llm.Dedup.exact.dups_removed" -> (nKept - nExact).toDouble,
      "llm.Dedup.fuzzyDuplicates.build_s" -> fuzzyS,
      "llm.Dedup.fuzzyDuplicates.task_s" -> fuzzyC.taskMs / 1e3,
      "llm.Dedup.fuzzyDuplicates.candidate_pairs" -> cands.toDouble,
      "llm.Dedup.fuzzyDuplicates.verified_pairs" -> pairs.count().toDouble,
      "llm.Dedup.duplicateClusters.build_s" -> clusterS,
      "llm.Dedup.duplicateClusters.jobs" -> clusterC.jobs.toDouble,
      "llm.Dedup.duplicateClusters.clusters" ->
        clusters.select(col("cluster")).distinct().count().toDouble,
      "llm.Dedup.pruneDuplicates.exec_s" -> (pruneS - exactS),
      "llm.Curation.contaminationReport.exec_s" -> (cleanS - pruneS),
      "llm.Curation.contaminationReport.contaminated" ->
        report.filter(col("contaminated")).count().toDouble,
      "llm.Curation.capPerGroupByContent.exec_s" -> (capS - cleanS),
      "llm.Shaping.packSequences.exec_s" -> (packS - capS),
      "llm.Shaping.packSequences.bins" -> bins.toDouble,
      "llm.Shaping.packSequences.fill_ratio" -> tokens.toDouble / (bins * Budget),
      "engine.Sinks.parquet.exec_s" -> (sinkS - packS))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
