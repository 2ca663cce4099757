package graft.api

import scala.collection.concurrent.TrieMap

import graft.domain._
import graft.ingest.SilverWriter
import graft.operators.Aggregates
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Typed façade mirroring the reference's tool surface
  * (docs/mcp-tools-reference.md) over the silver tables: one method per
  * analytical tool family, each a thin shaping layer over the operator /
  * domain modules (single-source-of-truth per computation — the façade
  * never re-implements semantics, matching the reference's reader-owns-
  * the-logic rule, SURVEY §3.3).
  *
  * Layout contract: `root/<table>` parquet dirs (activities, splits,
  * heart_rate_zones, time_series_metrics, daily_wellness), written by
  * graft.ingest.SilverWriter. Non-analytical tools map as follows:
  * ingest_activity/catch_up_ingest -> sources.GarminJson +
  * streaming.Streams.catchUp; save/get profile + reviews -> plain
  * SilverWriter.upsertByPartition round trips; export -> SilverWriter.export.
  *
  * Each table is read once per Graft: the first [[table]] call lists the
  * directory and infers the schema, later calls reuse that resolution. A
  * write through SilverWriter (Streams.upsertSink and Streams.catchUp
  * included) or [[athlete]] invalidates it, and the next call re-reads the
  * table. A write that bypasses both needs a new Graft.
  */
final class Graft(val spark: SparkSession, root: String) {

  /** Table name -> (write generation, analyzed plan) of each resolved
    * table. The analyzed plan holds the listed file index and the inferred
    * schema; each call wraps it in a fresh Dataset, so optimization,
    * partition pruning, planning and AQE still run per call. A failed
    * resolution (missing table) is not kept.
    */
  private val resolved = TrieMap.empty[String, (Long, LogicalPlan)]

  def table(name: String): DataFrame = {
    val path = s"$root/$name"
    val gen = SilverWriter.generation(spark, path)
    val plan = resolved.get(name).collect { case (`gen`, p) => p }.getOrElse {
      val p = spark.read.parquet(path).queryExecution.analyzed
      resolved.put(name, gen -> p)
      p
    }
    GraftBridge.ofRows(spark, plan)
  }

  /** Validate-then-select column allowlist (reference
    * readers/metadata.py:18-35): caller-supplied column names are checked
    * against the table's silver contract BEFORE any plan is built, so a
    * dynamic field list can never smuggle an expression into the query —
    * the Spark analog of the reference's SQL-injection allowlist.
    */
  def selectFields(tableName: String, cols: Seq[String]): DataFrame = {
    val allowed = graft.Schemas.all.getOrElse(tableName,
      throw new IllegalArgumentException(s"unknown table: $tableName"))
      .fieldNames.toSet
    val bad = cols.filterNot(allowed)
    require(bad.isEmpty,
      s"columns not in the $tableName allowlist: ${bad.mkString(", ")}" +
        s" (allowed: ${allowed.toSeq.sorted.mkString(", ")})")
    table(tableName).select(cols.map(col): _*)
  }

  /** get_bulk_activity_fields (metadata.py): allowlisted fields for a set
    * of activities, keyed by activity_id.
    */
  def bulkActivityFields(ids: Seq[Long], fields: Seq[String]): DataFrame =
    selectFields("activities", "activity_id" +: fields)
      .where(col("activity_id").isin(ids: _*))

  private def splitsOf(activityId: Long): DataFrame =
    table("splits").where(col("activity_id") === activityId)

  /** Splits tools: projection groups with the reference's statistics_only
    * mode (aggregate before collect — the ~80 % output reduction is an API
    * design choice, SURVEY §4.1).
    */
  object splits {
    private val paceHrCols = Seq("split_index", "distance", "duration_seconds",
      "pace_seconds_per_km", "heart_rate", "max_heart_rate", "hr_zone")
    private val formCols = Seq("split_index", "cadence", "stride_length",
      "ground_contact_time", "vertical_oscillation", "vertical_ratio")
    private val elevationCols = Seq("split_index", "elevation_gain",
      "elevation_loss", "terrain_type")

    private def group(activityId: Long, cols: Seq[String],
        statisticsOnly: Boolean): DataFrame = {
      val df = splitsOf(activityId).select(cols.map(col): _*)
      if (!statisticsOnly) df.orderBy("split_index")
      else Aggregates.statsBlock(df.drop("split_index"), Seq.empty,
        cols.filterNot(c => c == "split_index" || c == "hr_zone" || c == "terrain_type"))
    }

    def paceHr(activityId: Long, statisticsOnly: Boolean = false): DataFrame =
      group(activityId, paceHrCols, statisticsOnly)
    def formMetrics(activityId: Long, statisticsOnly: Boolean = false): DataFrame =
      group(activityId, formCols, statisticsOnly)
    def elevation(activityId: Long, statisticsOnly: Boolean = false): DataFrame =
      group(activityId, elevationCols, statisticsOnly)
    def comprehensive(activityId: Long, statisticsOnly: Boolean = false): DataFrame =
      group(activityId,
        (paceHrCols ++ formCols.tail ++ elevationCols.tail).distinct, statisticsOnly)

    /** get_interval_analysis: segments + rep fatigue + recovery rates. */
    def intervalAnalysis(activityId: Long): Seq[Performance.Segment] = {
      val rows = splitsOf(activityId)
        .orderBy("split_index")
        .select("intensity_type", "duration_seconds", "heart_rate",
          "pace_seconds_per_km", "ground_contact_time")
        .collect()
      var t = 0.0
      rows.toSeq.map { r =>
        val dur = Option(r.getAs[java.lang.Double]("duration_seconds"))
          .map(_.doubleValue).getOrElse(0.0)
        val seg = Performance.Segment(
          Performance.segmentType(Option(r.getAs[String]("intensity_type"))),
          t, t + dur,
          Option(r.getAs[java.lang.Double]("heart_rate")).map(_.doubleValue),
          Option(r.getAs[java.lang.Double]("pace_seconds_per_km"))
            .map(_.doubleValue / 60.0),
          Option(r.getAs[java.lang.Double]("ground_contact_time")).map(_.doubleValue))
        t += dur
        seg
      }
    }
  }

  /** Training-load tools. */
  object trainingLoad {
    /** get_acwr over the daily-load frame derived from activities. */
    def acwr(): DataFrame = {
      val daily = table("activities")
        .groupBy(col("activity_date"))
        .agg(sum("total_distance_km").as("load_km"))
        .withColumn("day_idx", datediff(col("activity_date"), lit("1970-01-01")))
        .withColumn("athlete", lit("default"))
      graft.operators.Stats.acwr(daily, "athlete", "day_idx", "load_km")
        .drop("athlete")
    }

    /** get_injury_risk: fused factors (callers supply the wellness/form
      * blocks they have; missing factors renormalize away).
      */
    def injuryRisk(acwrRatio: Option[Double], durabilityDirection: Option[String],
        wellnessAdverse: Option[(Int, Int)],
        formRatio: Option[(Double, Double)]): Option[InjuryRisk.Assessment] =
      InjuryRisk.assess(Map(
        "acwr" -> acwrRatio.map(InjuryRisk.acwrRisk),
        "durability" -> durabilityDirection.flatMap(InjuryRisk.durabilityRisk),
        "wellness" -> wellnessAdverse.flatMap { case (a, u) =>
          InjuryRisk.wellnessRisk(a, u) },
        "form_anomaly" -> formRatio.flatMap { case (r, base) =>
          InjuryRisk.formAnomalyRisk(r, base) }))
  }

  /** Physiology / recovery / wellness tools. */
  object physiology {
    /** get_recovery_status from the daily_wellness frame (date-ascending). */
    def recoveryStatus(): String = {
      val rows = table("daily_wellness")
        .orderBy("date")
        .select("resting_hr", "hrv_overnight", "hrv_baseline_low",
          "readiness", "sleep_score")
        .collect()
      val nights = rows.toSeq.map { r =>
        (Option(r.getAs[java.lang.Double]("hrv_overnight")).map(_.doubleValue),
          Option(r.getAs[java.lang.Double]("hrv_baseline_low")).map(_.doubleValue))
      }
      val (_, under) = Recovery.hrvStreak(nights)
      val last = rows.lastOption
      Recovery.classify(
        last.flatMap(r => Option(r.getAs[java.lang.Integer]("readiness")).map(_.intValue)),
        last.flatMap(r => Option(r.getAs[java.lang.Integer]("sleep_score")).map(_.intValue)),
        under)
    }

    /** get_wellness_baseline_deviation for one metric column. */
    def wellnessDeviation(metricCol: String, direction: String): Wellness.MetricBaseline = {
      val rows = table("daily_wellness").orderBy("date")
        .select(col(metricCol).cast("double")).collect()
        .map(r => Option(r.getAs[java.lang.Double](0)).map(_.doubleValue)).toSeq
      Wellness.metricBaseline(rows.dropRight(1).takeRight(30),
        rows.lastOption.flatten, metricCol, direction)
    }
  }

  /** Fitness / race tools. */
  object fitness {
    def currentFitnessSummary(asOf: java.sql.Date): FitnessAssessor.Assessment =
      FitnessAssessor.assess(spark, table("activities"), asOf,
        weekStartDay = weekStartDay(),
        vo2max =
          try Some(table("vo2_max"))
          catch { case _: org.apache.spark.sql.AnalysisException => None })

    /** get_race_readiness: blended predictions per standard distance. */
    def raceReadiness(vdot: Double,
        curveBuckets: Seq[(Double, Long)]): Map[String, RacePrediction.Prediction] =
      Map(5.0 -> "race_5k", 10.0 -> "race_10k", 21.0975 -> "half", 42.195 -> "full")
        .flatMap { case (km, key) =>
          RacePrediction.predict(Some(Vdot.predictRaceTime(vdot, km)),
            curveBuckets, km).map(key -> _)
        }

    /** Goal side of get_race_readiness (race.py:134-229): the active goal
      * from athlete_goals plus the predicted-vs-target progress block.
      */
    def goalProgress(vdot: Double, today: java.time.LocalDate,
        userId: String = "default"): Option[(RaceGoal.Goal, Option[RaceGoal.Progress])] =
      RaceGoal.activeGoalFor(table("athlete_goals"), userId, today.toString)
        .map(g => g -> RaceGoal.progress(vdot, g, today))
  }

  /** The athlete's configured week start (athlete_profile.week_start_day,
    * Monday fallback) — the single week definition every weekly bucket in
    * this façade shares (reference utils/week.py).
    */
  def weekStartDay(userId: String = "default"): Int =
    try Aggregates.weekStartDayOf(table("athlete_profile"), userId)
    catch { case _: org.apache.spark.sql.AnalysisException => 0 }

  /** Trend tools (web/queries/trends.py): weekly/monthly volume honouring
    * the configured week start.
    */
  object trends {
    def weeklyVolume(userId: String = "default"): DataFrame =
      Aggregates.weekBucketCfg(table("activities"), "activity_date",
        "total_distance_km", weekStartDay(userId))
        .withColumnRenamed("total_v", "load_km")
        .orderBy("week_start")

    def monthlyVolume(): DataFrame =
      Aggregates.monthBucket(table("activities"), "activity_date",
        "total_distance_km").orderBy("month")
  }

  /** compare_similar_runs (rag/queries/comparisons.py): candidate band +
    * the full weighted similarity score + Japanese interpretation. The
    * reference's per-activity weather lookup has no silver table here, so
    * temperature context is null (the interpretation omits it, exactly the
    * no-temp-data branch).
    */
  object comparisons {
    def findSimilarWorkouts(activityId: Long, paceTolerance: Double = 0.2,
        distanceTolerance: Double = 0.2, limit: Int = 10): DataFrame = {
      val acts = table("activities").select(
        col("activity_id"), col("activity_date"), col("activity_name"),
        when(col("average_speed") > 0, lit(1000.0) / col("average_speed"))
          .as("avg_pace"),
        col("avg_heart_rate"), col("total_distance_km"),
        coalesce(lower(col("training_type")), lit("unknown")).as("ttype"))
      val target = broadcast(acts.where(col("activity_id") === activityId)
        .select(col("avg_pace").as("t_pace"),
          col("avg_heart_rate").as("t_hr"),
          col("total_distance_km").as("t_dist"),
          col("ttype").as("t_type")))
      acts.where(col("activity_id") =!= activityId)
        .crossJoin(target)
        .where(col("avg_pace").between(
            col("t_pace") * (1 - paceTolerance),
            col("t_pace") * (1 + paceTolerance)) &&
          col("total_distance_km").between(
            col("t_dist") * (1 - distanceTolerance),
            col("t_dist") * (1 + distanceTolerance)))
        .withColumn("similarity_score",
          bround(graft.operators.Joins.similarityScore(
            col("t_pace"), col("avg_pace"),
            col("t_dist"), col("total_distance_km"),
            col("t_type"), col("ttype")), 1))
        .withColumn("pace_diff", bround(col("avg_pace") - col("t_pace"), 1))
        .withColumn("hr_diff",
          bround(when(col("avg_heart_rate").isNotNull && col("t_hr").isNotNull,
            col("avg_heart_rate") - col("t_hr")).otherwise(0.0), 1))
        .withColumn("interpretation", Labels.comparisonInterpretation(
          col("pace_diff"), col("hr_diff"), lit(null).cast("double")))
        .orderBy(abs(col("avg_pace") - col("t_pace")).asc,
          col("activity_date").desc, col("activity_id").asc)
        .limit(limit)
        .select("activity_id", "activity_date", "activity_name",
          "similarity_score", "pace_diff", "hr_diff", "interpretation")
    }
  }

  /** Durability tools (readers/durability.py): midpoint-split decoupling /
    * fades per activity and the long-run trend block. All math lives in
    * domain.Durability (oracle-adjacent: the halves split is the
    * q_decoupling_halves shape, the regressions the q_linreg/q_trend_class
    * machinery); the façade only selects the window.
    */
  object durability {
    private def tsCols = table("time_series_metrics").select(
      "activity_id", "timestamp_s", "heart_rate", "speed",
      "ground_contact_time", "vertical_oscillation", "vertical_ratio")

    /** get_activity_durability: 0-or-1-row frame (empty ≙ the reference's
      * None — no usable HR/speed rows or an empty time span).
      */
    def activityDurability(activityId: Long): DataFrame =
      Durability.perActivity(tsCols.where(col("activity_id") === activityId))

    /** The qualifying long runs with their per-run durability rows, date
      * ascending — the `activities` half of get_durability_trend. ONE
      * distributed plan for the whole window, not a per-id loop.
      * Default threshold 10.0 km matches the reference
      * (database/readers/durability.py:221 min_distance_km=10.0).
      */
    def longRuns(startDate: String, endDate: String,
        minDistanceKm: Double = 10.0): DataFrame = {
      val runs = table("activities")
        .where(col("activity_date").between(startDate, endDate) &&
          col("total_distance_km") >= minDistanceKm)
        .select(col("activity_id"), col("activity_date"),
          col("total_distance_km").as("distance_km"))
      Durability.perActivity(
          tsCols.join(runs.select("activity_id"), Seq("activity_id"),
            "left_semi"))
        .join(runs, Seq("activity_id"))
        .orderBy("activity_date", "activity_id")
    }

    /** The `trend` half of get_durability_trend: 1-row block with the
      * significance-gated direction, form regression, absolute band and
      * best/worst ranking.
      */
    def durabilityTrend(startDate: String, endDate: String,
        minDistanceKm: Double = 10.0): DataFrame =
      Durability.trend(longRuns(startDate, endDate, minDistanceKm))
  }

  /** Heat-adjustment tools (rag/queries/heat_adjustment.py:117-192): the
    * hinge-model fit + climate-neutral trend over a date window. Per-run
    * temperature is the activity's mean air temperature from the time
    * series; Stats.heatTrend does the fit (one distributed covariance
    * aggregate + 1-row Cramer solve) and carries the reference's n >= 10
    * insufficient_data gate.
    */
  object heat {
    private def observations(startDate: String, endDate: String): DataFrame = {
      val temps = table("time_series_metrics")
        .groupBy("activity_id")
        .agg(avg("air_temperature").as("temp_c"))
      val acts = table("activities")
        .where(col("activity_date").between(startDate, endDate) &&
          col("avg_heart_rate").isNotNull && col("average_speed") > 0)
        .select(col("activity_id"), col("activity_date"),
          col("avg_heart_rate").as("y"),
          (lit(1000.0) / col("average_speed")).as("x1"))
      acts.join(temps, Seq("activity_id"))
        .where(col("temp_c").isNotNull)
    }

    private def withDays(obs: DataFrame, refTempC: Double): DataFrame = {
      val base = obs.agg(min(col("activity_date")).as("base_date"))
      obs.crossJoin(broadcast(base))
        .withColumn("x2", graft.operators.Stats.heatHinge(col("temp_c"), refTempC))
        .withColumn("x3",
          datediff(col("activity_date"), col("base_date")).cast("double"))
    }

    /** get_heat_adjusted_trend's coefficients + neutral-HR time trend
      * (1 row; status = insufficient_data below the fit gate).
      */
    def heatTrend(startDate: String, endDate: String,
        refTempC: Double = 15.0, minN: Int = 10): DataFrame =
      graft.operators.Stats.heatTrend(
        withDays(observations(startDate, endDate), refTempC)
          .select("y", "x1", "x2", "x3"), minN)

    /** The per-run `points` block: {date, temp_c, raw_hr, heat_cost,
      * neutral_hr}, date ascending. Mirrors compute_trend's
      * MIN_FIT_ACTIVITIES gate (heat_adjustment.py:147): below `minN`
      * complete observations the reference returns insufficient_data and
      * emits NO points, so this frame is empty. The gate is a broadcast
      * 1-row count semi-gate, not a driver-side collect.
      */
    def heatCostPoints(startDate: String, endDate: String,
        refTempC: Double = 15.0, minN: Int = 10): DataFrame = {
      val f = withDays(observations(startDate, endDate), refTempC)
      val gate = f.agg(count(lit(1)).as("n_fit"))
        .where(col("n_fit") >= minN)
      val betas = graft.operators.Stats.heatBetas(
        graft.operators.Stats.heatStats(f.select("y", "x1", "x2", "x3")))
        .select("b_heat")
      graft.operators.Stats.heatCost(
          f.crossJoin(broadcast(gate)).drop("n_fit"), betas)
        .select(col("activity_date").as("date"), col("temp_c"),
          col("y").as("raw_hr"), col("heat_cost"), col("neutral_hr"))
        .orderBy("date")
    }
  }

  /** Time-series tools (z-anomalies come from domain.FormAnomaly over the
    * time_series_metrics frame shaped to its input contract).
    */
  object timeSeries {
    def formAnomalySummary(): DataFrame = {
      val ts = table("time_series_metrics").select(
        col("activity_id"), col("seq_no").cast("int").as("ts"),
        col("ground_contact_time").as("gct"),
        col("vertical_oscillation").as("vo"),
        col("vertical_ratio").as("vr"),
        col("elevation"),
        (lit(1000.0 / 60.0) / col("speed")).as("pace"),
        col("heart_rate"))
      FormAnomaly.materialEvents(FormAnomaly.detect(ts))
    }

    /** get_time_range_detail with the reference's half-open convention. */
    def timeRangeStats(activityId: Long, fromS: Int, untilS: Int,
        metric: String): DataFrame =
      table("time_series_metrics")
        .where(col("activity_id") === activityId &&
          col("seq_no") >= fromS && col("seq_no") < untilS)
        .agg(avg(metric).as("avg_v"), stddev(metric).as("stddev_v"),
          min(metric).as("min_v"), max(metric).as("max_v"),
          count(metric).as("n_rows"))
  }

  /** export tool: guarded sink. */
  def export(df: DataFrame, path: String, format: String = "parquet",
      maxRows: Long = 100000L): Long =
    SilverWriter.export(df, path, format, maxRows)

  /** Athlete-table round trips (save_athlete_profile / save_weekly_review /
    * /set-goal): every write conforms to the silver contract first. The
    * profile is 1-row-per-user (read-modify-write through the driver —
    * the table is bounded by the user count, and materializing before the
    * overwrite avoids Spark's read-while-overwriting hazard); reviews and
    * goals are append-only by design (weekly_reviews dropped its UNIQUE
    * index specifically to allow revisions — latest-wins happens at read).
    */
  object athlete {
    private def conformed(df: DataFrame, tableName: String): DataFrame =
      graft.Schemas.conform(df, tableName)

    /** Upsert the incoming users' profile rows, preserving every other
      * user. The replaced set comes from the rows themselves — a caller
      * cannot desync the filter key from the payload.
      */
    def saveProfile(row: DataFrame): Unit = {
      val newRows = conformed(row, "athlete_profile").collect().toSeq
      val ids = newRows.map(_.getAs[String]("user_id")).toSet
      val others =
        try conformed(table("athlete_profile"), "athlete_profile")
          .collect().toSeq
          .filterNot(r => ids(r.getAs[String]("user_id")))
        catch { case _: org.apache.spark.sql.AnalysisException => Seq.empty }
      val path = s"$root/athlete_profile"
      SilverWriter.written(spark, path)(spark.createDataFrame(
        spark.sparkContext.parallelize(newRows ++ others),
        graft.Schemas.athleteProfile)
        .coalesce(1).write.mode("overwrite").parquet(path))
    }

    def profile(userId: String = "default"): Option[org.apache.spark.sql.Row] =
      try table("athlete_profile").where(col("user_id") === userId)
        .collect().headOption
      catch { case _: org.apache.spark.sql.AnalysisException => None }

    /** Append a weekly review revision (append-only; latest wins at read). */
    def saveWeeklyReview(review: DataFrame): Unit = append(review, "weekly_reviews")

    /** Latest revision per reviewed week (the latest-wins window). */
    def latestReviews(): DataFrame =
      graft.operators.Windows.latestVersion(
        table("weekly_reviews"), "week_start_date", "created_at", "review_id")

    /** Register a race goal (append-only). */
    def saveGoal(goal: DataFrame): Unit = append(goal, "athlete_goals")

    private def append(df: DataFrame, tableName: String): Unit = {
      val path = s"$root/$tableName"
      SilverWriter.written(spark, path)(
        conformed(df, tableName).write.mode("append").parquet(path))
    }
  }

  /** Training-data pipeline tier over a corpus directory
    * (documents.parquet / embeddings.parquet) — the beyond-reference
    * surface for 100 TB curation. Thin wrappers: each call is the SAME
    * implementation the oracle-checked registry queries run.
    */
  /** Event-stream analytics tools (the behavioral-data family layered on
    * the `events` table: feature exports, conversion, retention).
    */
  object events {
    /** Per-user feature block (counts, breadth, envelope, value stats). */
    def userFeatures(dir: String): DataFrame =
      graft.SparkEntry.queries("q_user_features")(spark, dir)

    /** Ordered view→click→purchase conversion funnel. */
    def funnel(dir: String): DataFrame =
      graft.SparkEntry.queries("q_event_funnel")(spark, dir)

    /** Weekly retention cohorts (first-event week × week offset). */
    def retentionCohorts(dir: String): DataFrame =
      graft.SparkEntry.queries("q_retention_cohorts")(spark, dir)

    /** First-order next-event transition matrix. */
    def transitions(dir: String): DataFrame =
      graft.SparkEntry.queries("q_event_transitions")(spark, dir)

    /** Recency-weighted per-user EWMA of event values. */
    def ewma(dir: String): DataFrame =
      graft.SparkEntry.queries("q_ewma")(spark, dir)

    /** Wide per-user event-type count export (pivot). */
    def pivotCounts(dir: String): DataFrame =
      graft.SparkEntry.queries("q_event_pivot")(spark, dir)

    /** Rolling DAU/WAU actives with the stickiness ratio. */
    def rollingActives(dir: String): DataFrame =
      graft.SparkEntry.queries("q_rolling_actives")(spark, dir)

    /** Daily new-vs-returning user split. */
    def newVsReturning(dir: String): DataFrame =
      graft.SparkEntry.queries("q_new_vs_returning")(spark, dir)

    /** Exact per-type p50/p90/p99 of event values (latency-style report). */
    def percentiles(dir: String): DataFrame =
      graft.SparkEntry.queries("q_percentiles")(spark, dir)

    /** Last-touch attribution: purchases credited to the most recent
      * click within the 1-hour window.
      */
    def attribution(dir: String): DataFrame =
      graft.SparkEntry.queries("q_attribution")(spark, dir)

    /** Histogram of users by number of distinct active days. */
    def activeDays(dir: String): DataFrame =
      graft.SparkEntry.queries("q_active_days")(spark, dir)

    /** Weekly churn: actives with no activity the following week. */
    def churnRate(dir: String): DataFrame =
      graft.SparkEntry.queries("q_churn_rate")(spark, dir)

    /** Daily new users and the cumulative distinct-user growth curve. */
    def userGrowth(dir: String): DataFrame =
      graft.SparkEntry.queries("q_user_growth")(spark, dir)
  }

  object pipeline {

    /** Per-document first-match curation status (exact_dup > near_dup >
      * quality rule > contaminated > kept) — and the kept corpus.
      */
    def curationStatuses(corpusDir: String): DataFrame =
      graft.operators.Curation.statuses(spark, corpusDir)

    /** The surviving corpus: documents whose status is 'kept'. */
    def curated(corpusDir: String): DataFrame =
      graft.Tables.documents(spark, corpusDir)
        .join(curationStatuses(corpusDir).where(col("status") === "kept")
          .select("doc_id"), Seq("doc_id"), "left_semi")

    /** Near-dup cluster labels (doc_id -> canonical cluster id). */
    def dupClusters(corpusDir: String): DataFrame =
      SparkEntryQueries("q_dedup_cluster", corpusDir)

    /** Deterministic per-language quota sample. */
    def stratifiedSample(corpusDir: String): DataFrame =
      SparkEntryQueries("q_sample_stratified", corpusDir)

    /** Realize the configured domain-mixture recipe. */
    def mixtureSample(corpusDir: String): DataFrame =
      SparkEntryQueries("q_sample_mixture", corpusDir)

    /** BM25 top-k for the configured term query. */
    def bm25(corpusDir: String): DataFrame =
      SparkEntryQueries("q_bm25_rank", corpusDir)

    /** Per-document bigram LM quality score (perplexity filter). */
    def lmScores(corpusDir: String): DataFrame =
      SparkEntryQueries("q_text_lm_score", corpusDir)

    /** LM scores under the top-K-truncated model (the K-bounded broadcast
      * form for vocabularies too large to ship whole).
      */
    def lmScoresTopK(corpusDir: String): DataFrame =
      SparkEntryQueries("q_text_lm_topk", corpusDir)

    /** Near-dup pairs under the corpus-relative df-fraction boilerplate
      * cap (the cap that keeps working as the corpus grows).
      */
    def nearDupPairsCapped(corpusDir: String): DataFrame =
      SparkEntryQueries("q_dedup_ngram_fcapped", corpusDir)

    /** SemDeDup-style embedding-space dedup: kept/dropped per vector,
      * pruned within trained k-means cells.
      */
    def semanticDedup(corpusDir: String): DataFrame =
      SparkEntryQueries("q_semdedup", corpusDir)

    /** Token-budget curation: the best documents by lexical diversity
      * until the training-token budget is filled.
      */
    def budgetSelect(corpusDir: String): DataFrame =
      SparkEntryQueries("q_budget_select", corpusDir)

    /** DSIR-style importance weights: per-doc log-likelihood ratio of the
      * target-domain bigram model vs the corpus model.
      */
    def dsirWeights(corpusDir: String): DataFrame =
      SparkEntryQueries("q_dsir_weight", corpusDir)

    /** Train the IVF coarse quantizer and search the trained cells. */
    def annSearch(corpusDir: String): DataFrame =
      SparkEntryQueries("q_ann_ivf_trained", corpusDir)

    /** Two-stage ANN: int8 coarse candidates re-ranked at full precision. */
    def annRerank(corpusDir: String): DataFrame =
      SparkEntryQueries("q_ann_rerank", corpusDir)

    /** Leakage-safe train/val/test assignment (cluster-consistent). */
    def splitAssignments(corpusDir: String): DataFrame =
      SparkEntryQueries("q_split_assign", corpusDir)

    /** Top-50 vocabulary with ranks and corpus shares. */
    def vocabulary(corpusDir: String): DataFrame =
      SparkEntryQueries("q_vocab_zipf", corpusDir)

    /** Per-document out-of-vocabulary rate vs the corpus top-20 vocab. */
    def oovRates(corpusDir: String): DataFrame =
      SparkEntryQueries("q_oov_rate", corpusDir)

    /** Per-source KL divergence from the corpus token distribution. */
    def sourceDrift(corpusDir: String): DataFrame =
      SparkEntryQueries("q_kl_drift", corpusDir)

    /** Cross-source near-dup overlap matrix. */
    def sourceOverlap(corpusDir: String): DataFrame =
      SparkEntryQueries("q_source_overlap", corpusDir)

    /** Temperature-flattened (α = 0.5) mixture weights and quotas. */
    def temperatureMixture(corpusDir: String): DataFrame =
      SparkEntryQueries("q_mixture_temperature", corpusDir)

    /** Exact-phrase matches via the positional postings join. */
    def phraseSearch(corpusDir: String): DataFrame =
      SparkEntryQueries("q_phrase_search", corpusDir)

    /** Hashed linear classifier scores (fastText-style serving pass). */
    def classifierScores(corpusDir: String): DataFrame =
      SparkEntryQueries("q_text_clf_score", corpusDir)

    /** Per-source rate cap: top-10 docs per source by classifier score. */
    def sourceCap(corpusDir: String): DataFrame =
      SparkEntryQueries("q_source_cap", corpusDir)

    /** Contrastive hard negatives: nearest different-label vectors. */
    def hardNegatives(corpusDir: String): DataFrame =
      SparkEntryQueries("q_hard_negatives", corpusDir)

    /** Per-label scatter / class-separation audit over the embeddings. */
    def labelScatter(corpusDir: String): DataFrame =
      SparkEntryQueries("q_label_scatter", corpusDir)

    /** Keep-best (longest-member) survivor per near-dup cluster. */
    def dedupSurvivors(corpusDir: String): DataFrame =
      SparkEntryQueries("q_dedup_survivor", corpusDir)

    /** Easiest-first curriculum tiers over the LM difficulty scores. */
    def curriculumTiers(corpusDir: String): DataFrame =
      SparkEntryQueries("q_curriculum", corpusDir)

    /** MinHash-estimate vs exact Jaccard per LSH candidate pair. */
    def minhashCalibration(corpusDir: String): DataFrame =
      SparkEntryQueries("q_minhash_calibration", corpusDir)

    /** Estimate-vs-exact agreement (tp/fp/fn, precision/recall) at each
      * candidate dedup threshold — the table that picks the cut.
      */
    def minhashSweep(corpusDir: String): DataFrame =
      SparkEntryQueries("q_minhash_sweep", corpusDir)

    /** Recall@3 of the trained-IVF single-cell search vs exact. */
    def ivfRecall(corpusDir: String): DataFrame =
      SparkEntryQueries("q_ivf_recall", corpusDir)

    /** Per-document new-content fraction (first-seen shingle share). */
    def novelty(corpusDir: String): DataFrame =
      SparkEntryQueries("q_novelty", corpusDir)

    /** Per-source duplication rate (exact + near dup share). */
    def sourceDupRate(corpusDir: String): DataFrame =
      SparkEntryQueries("q_source_dup_rate", corpusDir)

    /** Top distinctive terms per source (TF-IDF, sources as docs). */
    def tfidfTerms(corpusDir: String): DataFrame =
      SparkEntryQueries("q_tfidf_terms", corpusDir)

    /** Strided token-window chunks with rolling hashes (RAG prep). */
    def docChunks(corpusDir: String): DataFrame =
      SparkEntryQueries("q_doc_chunks", corpusDir)

    /** Reciprocal-rank fusion of the BM25 and dense rankings. */
    def hybridRank(corpusDir: String): DataFrame =
      SparkEntryQueries("q_hybrid_rank", corpusDir)

    /** Blocked edit-distance entity matching over part names. */
    def fuzzyPairs(dir: String): DataFrame =
      SparkEntryQueries("q_fuzzy_pairs", dir)

    /** Recall@3 of the LSH index vs the exact integer-cosine top-3 — the
      * acceptance metric for any approximate index config.
      */
    def annRecall(corpusDir: String): DataFrame =
      SparkEntryQueries("q_ann_recall", corpusDir)

    /** Fixed-point PageRank centrality over the near-dup pair graph
      * (boilerplate/template hubs rank first).
      */
    def dupPageRank(corpusDir: String): DataFrame =
      SparkEntryQueries("q_pagerank", corpusDir)

    /** nDCG@3 of the LSH ranking vs the exact ranking (graded order
      * quality, complementing annRecall's set metric).
      */
    def annNdcg(corpusDir: String): DataFrame =
      SparkEntryQueries("q_ann_ndcg", corpusDir)

    /** Label purity per trained k-means cell (coarse-quantizer sanity). */
    def clusterPurity(corpusDir: String): DataFrame =
      SparkEntryQueries("q_cluster_purity", corpusDir)

    private def SparkEntryQueries(name: String, d: String): DataFrame =
      graft.SparkEntry.queries(name)(spark, d)
  }
}
