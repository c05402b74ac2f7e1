package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import java.nio.file.{Files, Paths}

/** Reference-parity ETL pipeline, re-expressed Spark-first.
  *
  * Semantics mirror `/root/reference/wallmart_pipeline.py` (see SURVEY.md §2
  * for the operator-by-operator mapping):
  *   - extract: CSV scan + Parquet scan + `index`-presence check + inner
  *     equi-join on `index` (wallmart_pipeline.py:39-65)
  *   - transform: mean-impute 3 columns, parse `Date`, derive `Month`,
  *     filter `Weekly_Sales > 10000`, project 6 columns
  *     (wallmart_pipeline.py:68-102)
  *   - avgWeeklySalesPerMonth: drop null months (pandas groupby drops NaN
  *     keys — Spark keeps them, so the filter is explicit), group-by-month
  *     mean, rename, round 2dp half-to-even (wallmart_pipeline.py:105-126)
  *   - load/validate: CSV sinks + output-existence check
  *     (wallmart_pipeline.py:129-168)
  *
  * Differences by design (Spark-first, not a port):
  *   - Lazy plans; only the fill means are eagerly collected (they must be
  *     literals before `na.fill` enters the plan, mirroring pandas'
  *     eagerness at wallmart_pipeline.py:83-87).
  *   - Like the reference's one merged frame, the join is computed once per
  *     run: `transform` persists the six columns it reads, the means job
  *     materialises them, and the CSV and JDBC sinks read that copy; `run`
  *     releases it before returning, on success and on failure.
  *   - `bround` (HALF_EVEN) matches numpy's banker's rounding where pandas
  *     `.round(2)` is used (wallmart_pipeline.py:119).
  *   - `try_to_timestamp` reproduces `pd.to_datetime(errors="coerce")`
  *     (wallmart_pipeline.py:89) under Spark 4's default ANSI mode.
  */
object WalmartPipeline {

  /** Reference-parity stage contract (wallmart_pipeline.py:51-65 and
    * peers): each stage logs `Error in <name>(): <msg>` on failure and
    * re-raises the original exception — callers see the real error, the
    * log carries the stage attribution.
    */
  private def stage[T](name: String)(body: => T): T =
    try body
    catch {
      case e: Throwable =>
        PipelineLog.error(s"Error in $name(): ${e.getMessage}")
        throw e
    }

  /** Declared schema for the grocery-sales CSV — what pandas infers at
    * wallmart_pipeline.py:52, declared explicitly for determinism.
    */
  val grocerySchema: StructType = StructType(Seq(
    StructField("level_0", LongType),
    StructField("index", LongType),
    StructField("Store_ID", LongType),
    StructField("Date", StringType),
    StructField("Dept", LongType),
    StructField("Weekly_Sales", DoubleType)
  ))

  /** O1-O4: scans, schema presence check, inner equi-join on `index`.
    * The CSV side is ~20k rows and the parquet side ~230k in the reference;
    * at scale the smaller side should broadcast — Catalyst's JoinSelection
    * picks broadcast-hash automatically under the size threshold.
    */
  def extract(spark: SparkSession, csvPath: String, parquetPath: String): DataFrame =
    stage("extract") {
      val store = spark.read
        .option("header", "true")
        .option("encoding", "UTF-8")
        .schema(grocerySchema)
        .csv(csvPath)
      val extra = spark.read.parquet(parquetPath)
      // O3 (wallmart_pipeline.py:55-57): fail fast if the join key is absent.
      require(store.columns.contains("index"), "Input data is missing index column: csv")
      require(extra.columns.contains("index"), "Input data is missing index column: parquet")
      val merged = store.join(extra, Seq("index"), "inner")
      PipelineLog.info("Data successfully extracted and merged.")
      merged
    }

  /** The input columns `transform` reads. */
  private val TransformInput =
    Seq("Store_ID", "Date", "Weekly_Sales", "IsHoliday", "CPI", "Unemployment")

  private def transformInput(df: DataFrame): DataFrame = df.select(TransformInput.map(col): _*)

  /** O5-O10: mean-impute, date parse, month derivation, filter, project.
    * Persists the six input columns it reads, so the means job and every
    * consumer of the result share one scan of `df`; the means job
    * materialises the copy. The caller owns it: `run` releases it, and a
    * caller driving the stages itself calls [[release]].
    */
  def transform(df: DataFrame): DataFrame = stage("transform") {
    val input = transformInput(df).persist()
    // O5 (wallmart_pipeline.py:84-86): the three column means are a
    // separate eager job — collected to the driver and injected as
    // literals, the one place the lazy graph is deliberately cut.
    val means = input
      .agg(avg("Weekly_Sales"), avg("CPI"), avg("Unemployment"))
      .first()
    // O6 (wallmart_pipeline.py:83-87): null-fill with the column means.
    // A column that is entirely null (or an empty frame) yields a null
    // mean; pandas `fillna(NaN)` is then a graceful no-op, so the null
    // mean is simply dropped from the fill map instead of NPE-ing.
    val fillMap = Seq("Weekly_Sales", "CPI", "Unemployment").zipWithIndex
      .flatMap { case (name, i) =>
        if (means.isNullAt(i)) None else Some(name -> means.getDouble(i))
      }.toMap
    val filled = if (fillMap.isEmpty) input else input.na.fill(fillMap)
    val clean = filled
      // O7 (wallmart_pipeline.py:89): fixed-format parse, coerce-to-null.
      .withColumn("Date", try_to_timestamp(col("Date"), lit("yyyy-MM-dd'T'HH:mm:ss.SSS")))
      // O8 (wallmart_pipeline.py:90): month-of-date; null-safe (null Date -> null Month).
      .withColumn("Month", month(col("Date")))
      // O9 (wallmart_pipeline.py:92-93): strict range predicate.
      .filter(col("Weekly_Sales") > 10000)
      // O10 (wallmart_pipeline.py:94): 6-column projection.
      .select("Store_ID", "Weekly_Sales", "IsHoliday", "CPI", "Unemployment", "Month")
    PipelineLog.info("Data transformation successful.")
    clean
  }

  /** Pipeline observability via `Dataset.observe` (CollectMetrics): the
    * input-health and transform-yield counters a production run reports —
    * rows in, per-column null counts, rows kept, unparsed dates — are
    * computed INSIDE the pipeline's own jobs, not by separate
    * monitoring scans. At 100 TB a `count()`-based metrics pass rereads
    * the corpus once per counter; `observe` piggybacks on the pass the
    * pipeline already makes (the input observation is satisfied by the
    * impute-means job, which scans every row anyway; the output
    * observation by the first downstream action). The transform is the
    * SAME `transform` the parity suite pins — observation adds a
    * metrics node, never a semantic fork.
    */
  def transformObserved(df: DataFrame):
      (DataFrame, org.apache.spark.sql.Observation, org.apache.spark.sql.Observation) = {
    val inObs = org.apache.spark.sql.Observation("transform_in")
    val outObs = org.apache.spark.sql.Observation("transform_out")
    val observedIn = df.observe(inObs,
      count(lit(1)).as("n_rows"),
      sum(when(col("Weekly_Sales").isNull, 1L).otherwise(0L)).as("n_null_sales"),
      sum(when(col("CPI").isNull, 1L).otherwise(0L)).as("n_null_cpi"),
      sum(when(col("Unemployment").isNull, 1L).otherwise(0L)).as("n_null_unemp"))
    val out = transform(observedIn).observe(outObs,
      count(lit(1)).as("n_kept"),
      sum(when(col("Month").isNull, 1L).otherwise(0L)).as("n_null_month"))
    (out, inObs, outObs)
  }

  /** Releases the copy `transform(df)` persisted; a no-op when there is none. */
  def release(df: DataFrame): Unit = transformInput(df).unpersist()

  /** O11-O13: group-by-month mean, rename, round 2dp.
    * pandas `groupby` drops NaN keys (wallmart_pipeline.py:117) — Spark
    * keeps a NULL group, so the parity filter is explicit. `bround` is
    * HALF_EVEN, matching numpy's banker's rounding at
    * wallmart_pipeline.py:119. The result has at most 12 rows at any input
    * size, so it is sorted in one partition: a global `orderBy` would add
    * a range-partition sampling job and a shuffle for nothing.
    */
  def avgWeeklySalesPerMonth(df: DataFrame): DataFrame =
    stage("avg_weekly_sales_per_month") {
      val agg = df.filter(col("Month").isNotNull)
        .groupBy("Month")
        .agg(bround(avg("Weekly_Sales"), 2).as("Avg_Sales"))
        .coalesce(1)
        .sortWithinPartitions("Month")
      PipelineLog.info("Average weekly sales per month calculated successfully.")
      agg
    }

  /** Frames whose Catalyst-estimated output size is below this are written
    * as a single file (reference-parity shape); larger frames keep their
    * partitioning. Catalyst plan statistics cost no extra job — unlike a
    * count() heuristic — and 64 MB is comfortably one writer task. The
    * gate needs a real estimate: Catalyst sizes an uncached join as the
    * product of its sides, so for the pipeline's frames it works because
    * they read the copy `transform` materialises.
    */
  val SingleFileMaxBytes: Long = 64L << 20

  /** O14: CSV sinks, header on, overwrite (wallmart_pipeline.py:140-143).
    * Returns the written paths for validation. `coalesce(1)` reproduces
    * the reference's single-file output only when the optimizer's size
    * estimate says the frame is small; a 100 TB `clean_data` would
    * otherwise funnel through one task and one file.
    */
  def load(frames: Map[String, DataFrame], outDir: String): Seq[String] =
    stage("load") {
      frames.toSeq.sortBy(_._1).map { case (name, df) =>
        val path = s"$outDir/$name"
        val estBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
        val shaped = if (estBytes <= SingleFileMaxBytes) df.coalesce(1) else df
        shaped.write.mode("overwrite").option("header", "true").csv(path)
        PipelineLog.info(s"$path saved successfully.")
        path
      }
    }

  /** O16: output-existence validation (wallmart_pipeline.py:157-168) —
    * like the reference's `validation`, a missing file logs an error but
    * does not raise; the caller inspects the returned flags.
    */
  def validate(paths: Seq[String]): Seq[(String, Boolean)] =
    paths.map { p =>
      val ok = Files.exists(Paths.get(p))
      if (ok) PipelineLog.info(s"$p validated successfully.")
      else PipelineLog.error(s"Error: $p was not created.")
      p -> ok
    }

  /** Full pipeline, mirroring `main()` (wallmart_pipeline.py:171-201).
    * JDBC load is config-gated and off by default (db_url=None parity,
    * wallmart_pipeline.py:129). A failure in any stage logs
    * `Critical error in main():` like the reference, then PROPAGATES —
    * the reference's main swallows the exception and returns None, which
    * is a script-level choice a library must not replicate (a caller
    * needs to know the pipeline failed).
    */
  def run(spark: SparkSession, csvPath: String, parquetPath: String,
          outDir: String, jdbcUrl: Option[String] = None): Seq[(String, Boolean)] =
    try {
      PipelineLog.info("Starting data pipeline execution.")
      val merged = extract(spark, csvPath, parquetPath)
      // a copy a stage-by-stage caller persisted earlier is theirs to release
      val owned = transformInput(merged).storageLevel == StorageLevel.NONE
      try {
        val clean  = transform(merged)
        val agg    = avgWeeklySalesPerMonth(clean)
        val frames = Map("clean_data" -> clean, "agg_data" -> agg)
        val paths  = load(frames, outDir)
        jdbcUrl.foreach { url =>
          frames.foreach { case (name, df) => JdbcSink.write(df, url, name) }
        }
        val results = validate(paths)
        PipelineLog.info("Data pipeline execution completed successfully.")
        results
      } finally if (owned) release(merged)
    } catch {
      case e: Throwable =>
        PipelineLog.critical(s"Critical error in main(): ${e.getMessage}")
        throw e
    }
}
