package graft.ingest

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Silver-layer persistence: idempotent per-activity overwrite and the
  * guarded export sink.
  *
  * The reference's write path is DELETE-then-INSERT per activity
  * (re-ingest safe; `time_series_metrics.py:110-113`) — the Spark-native
  * equivalent is dynamic partition overwrite keyed on `activity_id`
  * (SURVEY.md §2.1): re-ingesting an activity replaces exactly its
  * partition directory, every other partition untouched. Same idempotence,
  * and at 100 TB the partition key doubles as the pruning key for every
  * per-activity read.
  *
  * Read-side freshness: every write here bumps its path's write
  * generation once the write returns (or fails part-way). A reader that
  * keeps a resolved table — api.Graft resolves each table once — compares
  * generations and re-resolves after any write through this object
  * (Streams.upsertSink and Streams.catchUp included) or through
  * Graft.athlete. A write that bypasses both is invisible to such
  * a reader; read it through a new Graft.
  */
object SilverWriter {

  private val generations = new ConcurrentHashMap[String, Long]()

  /** `path` qualified by its FileSystem: `root/x`, `root/x/` and the
    * absolute form name one table.
    */
  private def qualified(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p).toString
  }

  /** Writes so far to `path` (0 if none). */
  private[graft] def generation(spark: SparkSession, path: String): Long =
    generations.getOrDefault(qualified(spark, path), 0L)

  /** Run `write` against `path`, then mark `path` stale for readers. */
  private[graft] def written[A](spark: SparkSession, path: String)(write: => A): A =
    try write finally generations.merge(qualified(spark, path), 1L, _ + _)

  /** Overwrite only the partitions present in `df` (dynamic mode is set
    * per-write, not globally, so batch jobs can't clobber a whole table by
    * accident).
    */
  def upsertByPartition(df: DataFrame, path: String,
      partitionCol: String = "activity_id"): Unit = written(df.sparkSession, path) {
    df.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol)
      .parquet(path)
  }

  /** Export with a pre-count guard (reference `readers/export.py:19-93`:
    * COPY TO with a row-cap check). Returns the exported row count; throws
    * before writing anything if the cap is exceeded.
    */
  def export(df: DataFrame, path: String, format: String = "parquet",
      maxRows: Long = 100000L): Long = {
    val n = df.count()
    if (n > maxRows)
      throw new IllegalArgumentException(
        s"export would write $n rows, exceeding max_rows=$maxRows")
    val writer = df.coalesce(1).write.mode("overwrite")
    written(df.sparkSession, path)(format.toLowerCase match {
      case "parquet" => writer.parquet(path)
      case "csv" => writer.option("header", "true").csv(path)
      case other => throw new IllegalArgumentException(s"unknown format: $other")
    })
    n
  }

  /** Bucketed silver write: hash-bucket (and sort) the table by its join
    * key so every later equi-join or aggregation on that key is
    * SHUFFLE-FREE — both sides arrive pre-partitioned, and Catalyst plans
    * a SortMergeJoin with no Exchange under it (asserted in
    * BucketingSpec). This is the 100 TB answer to the fact-to-fact joins
    * (splits⋈activities, lineitem⋈orders) that are too big to broadcast
    * and too hot to re-shuffle on every query: pay the shuffle ONCE at
    * ingest, then never again. Bucket counts must match across tables
    * meant to co-join; `buckets` therefore defaults from one shared
    * constant rather than per-call guesses.
    */
  val DefaultBuckets = 32

  def writeBucketed(df: DataFrame, table: String, path: String,
      key: String, buckets: Int = DefaultBuckets): Unit = written(df.sparkSession, path) {
    df.write
      .mode("overwrite")
      .option("path", path)
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Catch-up high-water-mark: the max of a date/ordering column, used to
    * bound the next incremental read (reference `db_reader.py:217-282`).
    */
  def highWaterMark(spark: SparkSession, path: String, col: String): Option[java.sql.Date] = {
    import org.apache.spark.sql.functions.max
    try {
      val row = spark.read.parquet(path).agg(max(col)).first()
      Option(row.getDate(0))
    } catch { case _: org.apache.spark.sql.AnalysisException => None }
  }
}
