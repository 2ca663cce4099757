package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.api.Graft
import graft.domain.Vdot
import graft.ingest.SilverWriter
import graft.streaming.Streams
import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** Read freshness of the façade's resolved silver tables. One Graft
  * resolves each table once (listing + schema inference) and reuses it;
  * these specs pin that every write through SilverWriter or Graft.athlete
  * is visible to the next call on the SAME Graft, that a missing table is
  * never remembered as missing, and that the reuse really removes the
  * per-call listing.
  */
class SilverReadSpec extends SparkSpec {

  private def root(): String = Files.createTempDirectory("graft-silver").toString

  /** Splits rows for the paceHr projection: `laps` laps of activity `id`,
    * heart rate `hr` throughout.
    */
  private def splits(id: Long, laps: Int, hr: Double): DataFrame = {
    import spark.implicits._
    (1 to laps).map(i => (id, i, 1000.0, 300.0, 300.0, hr, hr + 10, "Zone 3"))
      .toDF("activity_id", "split_index", "distance", "duration_seconds",
        "pace_seconds_per_km", "heart_rate", "max_heart_rate", "hr_zone")
  }

  private def heartRates(g: Graft, id: Long): Seq[Double] =
    g.splits.paceHr(id).collect().map(_.getAs[Double]("heart_rate")).toSeq

  private def fileIndex(df: DataFrame): FileIndex =
    df.queryExecution.analyzed.collectFirst {
      case r: LogicalRelation => r.relation.asInstanceOf[HadoopFsRelation].location
    }.get

  test("an upserted new activity is visible to the next read") {
    val r = root()
    SilverWriter.upsertByPartition(splits(1L, 3, 140.0), s"$r/splits")
    val g = new Graft(spark, r)
    assert(heartRates(g, 1L) === Seq(140.0, 140.0, 140.0))
    assert(heartRates(g, 2L).isEmpty)
    SilverWriter.upsertByPartition(splits(2L, 2, 150.0), s"$r/splits")
    assert(heartRates(g, 2L) === Seq(150.0, 150.0))
    assert(g.table("splits").count() === 5)
  }

  test("a dynamic overwrite of a read partition serves the new rows") {
    val r = root()
    SilverWriter.upsertByPartition(
      splits(1L, 3, 140.0).union(splits(2L, 2, 150.0)), s"$r/splits")
    val g = new Graft(spark, r)
    assert(heartRates(g, 1L) === Seq(140.0, 140.0, 140.0))
    // the old partition files are deleted; the trailing slash and the
    // relative-vs-qualified spelling still name the table g resolved
    SilverWriter.upsertByPartition(splits(1L, 2, 170.0), s"$r/splits/")
    assert(heartRates(g, 1L) === Seq(170.0, 170.0))
    assert(heartRates(g, 2L) === Seq(150.0, 150.0))
  }

  test("a Streams.upsertSink batch is visible on the next read") {
    val r = root()
    val src = s"$r/incoming"
    SilverWriter.upsertByPartition(splits(1L, 1, 140.0), s"$r/splits")
    val g = new Graft(spark, r)
    assert(heartRates(g, 1L) === Seq(140.0))
    splits(1L, 2, 160.0).union(splits(3L, 1, 130.0)).write.parquet(src)
    Streams.upsertSink(
      spark.readStream.schema(splits(0L, 1, 0.0).schema).parquet(src),
      s"$r/splits", s"$r/chk")
    assert(heartRates(g, 1L) === Seq(160.0, 160.0))
    assert(heartRates(g, 3L) === Seq(130.0))
  }

  test("a Streams.catchUp append is visible on the next read") {
    val r = root()
    val src = s"$r/incoming"
    val schema = splits(0L, 1, 0.0).schema
    def catchUp(): Unit =
      Streams.catchUp(spark, src, s"$r/chk", s"$r/splits", schema)
    splits(1L, 1, 140.0).write.mode("append").parquet(src)
    catchUp()
    val g = new Graft(spark, r)
    assert(heartRates(g, 1L) === Seq(140.0))
    splits(2L, 2, 150.0).write.mode("append").parquet(src)
    catchUp()
    assert(heartRates(g, 2L) === Seq(150.0, 150.0))
  }

  test("missing tables fall back, and resolve once written") {
    import spark.implicits._
    val r = root()
    Seq((java.sql.Date.valueOf("2026-07-01"), 10.0, "aerobic_base"))
      .toDF("activity_date", "total_distance_km", "training_type")
      .write.parquet(s"$r/activities")
    val g = new Graft(spark, r)
    val asOf = java.sql.Date.valueOf("2026-07-20")
    assert(g.fitness.currentFitnessSummary(asOf).currentVdot.isEmpty)
    assert(g.weekStartDay() === 0)
    // a plain write, outside SilverWriter: only a remembered failure
    // could hide it
    Seq((1L, java.sql.Date.valueOf("2026-07-10"), 54.0, 54.0))
      .toDF("activity_id", "activity_date", "vo2_max_value", "precise_value")
      .write.parquet(s"$r/vo2_max")
    val want = BigDecimal(Vdot.vdotFromVo2max(54.0))
      .setScale(1, BigDecimal.RoundingMode.HALF_EVEN).toDouble
    assert(g.fitness.currentFitnessSummary(asOf).currentVdot === Some(want))
    def profile(day: Int) = Seq(("default", day)).toDF("user_id", "week_start_day")
    g.athlete.saveProfile(profile(3))
    assert(g.weekStartDay() === 3)
    g.athlete.saveProfile(profile(5))
    assert(g.weekStartDay() === 5)
  }

  test("a Graft reuses its resolution; a second Graft resolves its own") {
    val r = root()
    SilverWriter.upsertByPartition(splits(1L, 2, 140.0), s"$r/splits")
    val g1 = new Graft(spark, r)
    val first = fileIndex(g1.table("splits"))
    assert(fileIndex(g1.table("splits")) eq first)
    val other = spark.newSession()
    val g2 = new Graft(other, r)
    val t2 = g2.table("splits")
    assert(fileIndex(t2) ne first)
    assert(t2.sparkSession eq other)
    // a write that bypasses SilverWriter is seen by a new Graft
    splits(4L, 1, 120.0).write.mode("append").partitionBy("activity_id")
      .parquet(s"$r/splits")
    assert(heartRates(new Graft(spark, r), 4L) === Seq(120.0))
  }

  test("repeated calls never re-list; one upsert re-lists exactly once") {
    // more activity partitions than Spark's parallel-listing threshold
    // (32), so every listing of the table runs one listing job
    val r = root()
    val n = 40
    SilverWriter.upsertByPartition(
      (1 to n).map(i => splits(i.toLong, 2, 140.0)).reduce(_ union _).coalesce(1),
      s"$r/splits")
    val g = new Graft(spark, r)
    assert(heartRates(g, 1L).size === 2)
    def counters = (HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount,
      HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount)
    val before = counters
    assert(heartRates(g, 1L).size === 2)
    assert(heartRates(g, 7L).size === 2)
    assert(counters === before)

    SilverWriter.upsertByPartition(splits(5L, 3, 175.0).coalesce(1), s"$r/splits")
    val dataFiles = Files.walk(java.nio.file.Paths.get(s"$r/splits")).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet"))
    val (files0, jobs0) = counters
    assert(heartRates(g, 5L) === Seq(175.0, 175.0, 175.0))
    val (files1, jobs1) = counters
    assert(jobs1 - jobs0 === 1)
    assert(files1 - files0 === dataFiles)
    assert(heartRates(g, 6L).size === 2)
    assert(counters === (files1, jobs1))
  }
}
