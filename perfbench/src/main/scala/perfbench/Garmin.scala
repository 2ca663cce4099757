package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.Schemas
import graft.api.Graft
import graft.ingest.{SilverTables, SilverWriter, SplitsEnrich}
import graft.sources.GarminJson
import org.apache.spark.sql.{DataFrame, SparkSession}

/** What the generator wrote for one activity (truth for the checks). */
final case class Truth(id: Long, date: String, distanceM: Double, laps: Int,
    tsRows: Int)

/** The product's serving path. Set-up takes one athlete's bronze JSON
  * through `sources.GarminJson` → `ingest.SplitsEnrich` → `SilverTables` →
  * `SilverWriter.upsertByPartition` into an `activity_id`-partitioned
  * silver root and checks it against the generator's truth; the closed
  * loop then calls the `api.Graft` façade, one call of each tool family
  * per round, activity ids skewed towards recent runs.
  */
final class Garmin(spark: SparkSession, bronze: String, work: String, seed: Long,
    tracer: Tracer) extends Workload {

  private val truth: Seq[Truth] =
    Files.readAllLines(Paths.get(s"$bronze/truth.tsv")).asScala.toSeq.map { l =>
      val f = l.split('\t')
      Truth(f(0).toLong, f(1), f(2).toDouble, f(3).toInt, f(4).toInt)
    }
  private val silver = s"$work/silver"
  private lazy val g = new Graft(spark, silver)
  private val firstDate = truth.map(_.date).min
  private val lastDate = truth.map(_.date).max
  private val totalKm = truth.map(_.distanceM).sum / 1000.0
  private val layer = mutable.LinkedHashMap.empty[String, Double]
  private val setupFailures = mutable.ArrayBuffer.empty[(String, Option[String])]

  private def persisted(df: DataFrame): DataFrame = {
    val c = df.persist()
    c.count()
    c
  }

  /** (data files, bytes) under `root`, leaving out checksum and marker
    * files (names starting with `.` or `_`).
    */
  private def treeBytes(root: String): (Long, Long) = {
    val p = Paths.get(root)
    if (!Files.exists(p)) (0L, 0L) else {
      val files = Files.walk(p).iterator().asScala.filter { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
      }.toSeq
      (files.size.toLong, files.map(f => Files.size(f)).sum)
    }
  }

  /** Bronze → silver for every activity under the bronze root. Each layer's
    * output is persisted and counted at its boundary, so a layer's span
    * holds that layer's work and the next layer reads it from memory.
    */
  private def ingest(): Unit = {
    val t0 = System.nanoTime()
    val (_, jsonBytes) = treeBytes(s"$bronze/activity")
    val (files0, _) = treeBytes(silver)
    def read(name: String)(df: => DataFrame): DataFrame = {
      val s0 = System.nanoTime()
      val r = tracer.span(s"sources.read.$name")(persisted(df))
      layer(s"sources.read_ms.$name") = (System.nanoTime() - s0) / 1e6
      r
    }
    val acts = read("activities")(GarminJson.readActivities(spark, bronze))
    val splits = read("splits")(GarminJson.readSplits(spark, bronze))
    val zones = read("hr_zones")(GarminJson.readHrZones(spark, bronze))
    val weather = read("weather")(GarminJson.readWeather(spark, bronze))
    val ts = read("time_series")(GarminJson.readTimeSeries(spark, bronze))
    def timed[A](name: String)(f: => A): A = {
      val s0 = System.nanoTime()
      val r = tracer.span(name)(f)
      layer(s"${name}_ms") = (System.nanoTime() - s0) / 1e6
      r
    }
    val enriched = timed("ingest.enrich")(persisted(Schemas.conform(
      SplitsEnrich.enrich(spark, splits, zones, weather, acts), "splits")))
    val derived = timed("ingest.derive")(Seq(
      "performance_trends" -> SilverTables.performanceTrends(spark, enriched),
      "hr_efficiency" -> SilverTables.hrEfficiency(zones, acts)
    ).map { case (n, df) => n -> persisted(df) })
    val tables = Seq(
      "activities" -> Schemas.conform(acts, "activities"),
      "splits" -> enriched,
      "heart_rate_zones" -> Schemas.conform(zones, "heart_rate_zones"),
      "time_series_metrics" -> Schemas.conform(ts, "time_series_metrics")) ++ derived
    timed("ingest.write")(tables.foreach { case (n, df) =>
      SilverWriter.upsertByPartition(df, s"$silver/$n")
    })
    (Seq(acts, splits, zones, weather, ts, enriched) ++ derived.map(_._2))
      .foreach(_.unpersist())
    val (files1, written) = treeBytes(silver)
    layer("sources.json_bytes") = jsonBytes.toDouble
    layer("ingest.bytes_written") = written.toDouble
    layer("ingest.files_written") = (files1 - files0).toDouble
    layer("ingest.write_amp") = written.toDouble / math.max(1L, jsonBytes)
    layer("ingest.activities_per_s") = truth.size / ((System.nanoTime() - t0) / 1e9)
    layer("ingest.setup_ms") = (System.nanoTime() - t0) / 1e6
  }

  /** Silver rows that do not come from activity JSON. */
  private def writeSilverRows(): Unit = Seq(
    "daily_wellness" -> Schemas.dailyWellness,
    "athlete_profile" -> Schemas.athleteProfile).foreach { case (n, schema) =>
    spark.read.schema(schema).json(s"$bronze/silver_rows/$n.jsonl")
      .coalesce(1).write.mode("overwrite").parquet(s"$silver/$n")
  }

  /** Generator-truth invariants over the freshly loaded silver root. */
  private def verifyLoad(): Seq[(String, Option[String])] = {
    def same(name: String, got: Long, want: Long) =
      name -> (if (got == want) None else Some(s"$got rows, generated $want"))
    val visible = g.bulkActivityFields(truth.map(_.id), Seq("total_distance_km"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val stale = truth.count(t => visible.get(t.id)
      .forall(km => math.abs(km - t.distanceM / 1000.0) > 1e-9))
    layer("ingest.stale_reads") = stale.toDouble
    val weekly = g.trends.weeklyVolume().collect().map(_.getAs[Double]("load_km")).sum
    Seq(
      same("silver.activities", g.table("activities").count(), truth.size),
      same("silver.splits", g.table("splits").count(), truth.map(_.laps.toLong).sum),
      same("silver.time_series_metrics", g.table("time_series_metrics").count(),
        truth.map(_.tsRows.toLong).sum),
      "silver.stale_reads" -> (if (stale == 0) None else Some(s"$stale activities stale")),
      "silver.weekly_volume" -> (if (math.abs(weekly - totalKm) < 1e-6 * totalKm) None
        else Some(s"weekly volume $weekly km, generated $totalKm km")))
  }

  def setup(): Double = {
    val t0 = System.nanoTime()
    tracer.span("ingest")(ingest())
    writeSilverRows()
    setupFailures ++= tracer.span("verify")(verifyLoad())
    layer("ingest.visible_ms") = (System.nanoTime() - t0) / 1e6
    warmups.foreach(op => tracer.span("warm", "call" -> op.name)(op.run()))
    (System.nanoTime() - t0) / 1e9
  }

  private def pick(rng: scala.util.Random): Truth = {
    val u = rng.nextDouble()
    truth(truth.size - 1 - (u * u * truth.size).toInt)
  }

  private def expect(ok: Boolean, what: => String): Unit =
    if (!ok) throw new IllegalStateException(what)

  private def splitsCall(t: Truth, stats: Boolean): Op = {
    val name = s"splits.paceHr${if (stats) ".stats" else ""}"
    Op("tool", "splits", name, () => {
      val n = g.splits.paceHr(t.id, stats).collect().length
      expect(n == (if (stats) 1 else t.laps), s"$name(${t.id}) returned $n rows")
      n.toLong
    })
  }

  /** One call of family `f`; families with two methods call the second
    * when `alt` is set.
    */
  private def family(f: String, t: Truth, alt: Boolean, rng: scala.util.Random): Op = f match {
    case "splits" => splitsCall(t, stats = alt)
    case "interval" => Op("tool", f, "splits.intervalAnalysis", () => {
      val n = g.splits.intervalAnalysis(t.id).size
      expect(n == t.laps, s"intervalAnalysis(${t.id}) gave $n segments for ${t.laps} laps")
      n.toLong
    })
    case "trainingLoad" => Op("tool", f, "trainingLoad.acwr", () => {
      val n = g.trainingLoad.acwr().collect().length
      expect(n > 0, "acwr returned no rows")
      n.toLong
    })
    case "physiology" =>
      if (!alt) Op("tool", f, "physiology.recoveryStatus", () => {
        expect(g.physiology.recoveryStatus().nonEmpty, "empty recovery status")
        1L
      }) else Op("tool", f, "physiology.wellnessDeviation", () => {
        val b = g.physiology.wellnessDeviation("hrv_overnight", "low_is_bad")
        expect(b.n > 0, "wellness baseline over no days")
        1L
      })
    case "trends" =>
      val weekly = !alt
      Op("tool", f, if (weekly) "trends.weeklyVolume" else "trends.monthlyVolume", () => {
        val rows = (if (weekly) g.trends.weeklyVolume() else g.trends.monthlyVolume()).collect()
        val km = rows.map(r => r.getAs[Double](if (weekly) "load_km" else "total_v")).sum
        expect(math.abs(km - totalKm) < 1e-6 * totalKm, s"volume $km km, generated $totalKm km")
        rows.length.toLong
      })
    case "comparisons" => Op("tool", f, "comparisons.findSimilarWorkouts", () => {
      val rows = g.comparisons.findSimilarWorkouts(t.id).collect()
      expect(rows.length <= 10 && rows.forall(_.getLong(0) != t.id),
        s"findSimilarWorkouts(${t.id}) returned the target or more than 10 rows")
      rows.length.toLong
    })
    case "durability" => Op("tool", f, "durability.activityDurability", () => {
      val n = g.durability.activityDurability(t.id).collect().length
      expect(n <= 1, s"activityDurability(${t.id}) returned $n rows")
      n.toLong
    })
    case "heat" => Op("tool", f, "heat.heatTrend", () => {
      val n = g.heat.heatTrend(firstDate, lastDate).collect().length
      expect(n == 1, s"heatTrend returned $n rows")
      n.toLong
    })
    case "form" =>
      val metric = Seq("ground_contact_time", "vertical_oscillation", "vertical_ratio")(rng.nextInt(3))
      val from = rng.nextInt(t.tsRows / 2)
      val until = from + 60 + rng.nextInt(240)
      Op("tool", f, s"timeSeries.timeRangeStats", () => {
        val r = g.timeSeries.timeRangeStats(t.id, from, until, metric).collect().head
        val want = math.min(until, t.tsRows) - from
        expect(r.getAs[Long]("n_rows") == want,
          s"timeRangeStats(${t.id}, $from, $until) counted ${r.getAs[Long]("n_rows")} rows, want $want")
        1L
      })
  }

  /** Every distinct method once: one call per family, two for the
    * families with two methods.
    */
  private def methods(rng: scala.util.Random, ids: => Truth): Seq[Op] =
    Garmin.Families.flatMap(f => Seq(false, true).map(family(f, ids, _, rng)))
      .groupBy(_.name).values.map(_.head).toSeq.sortBy(_.name)

  private def warmups: Seq[Op] = methods(new scala.util.Random(seed), truth.last)

  def round(r: Int): Seq[Op] = {
    val rng = new scala.util.Random(seed * 1000003L + r)
    rng.shuffle(methods(rng, pick(rng)))
  }

  def check(): Seq[(String, Option[String])] = setupFailures.toSeq

  def sizes: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap(
    "activities" -> truth.size, "splits" -> truth.map(_.laps).sum,
    "ts_rows" -> truth.map(_.tsRows.toLong).sum,
    "bronze_bytes" -> treeBytes(s"$bronze/activity")._2)

  def layerMetrics: mutable.LinkedHashMap[String, Double] = layer
}

object Garmin {
  val Families: Seq[String] = Seq("splits", "interval", "trainingLoad",
    "physiology", "trends", "comparisons", "durability", "heat", "form")
}
