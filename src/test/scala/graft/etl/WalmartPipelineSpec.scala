package graft.etl

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSessionTestWrapper

/** Behavioral-parity port of the reference test suite
  * (wallmart_pipeline_pytest.py:5-33) plus the golden end-to-end run on
  * the reference's own shipped inputs, asserted against the verified
  * 12-row `agg_data` table (BASELINE.md).
  */
class WalmartPipelineSpec extends AnyFunSuite with SparkSessionTestWrapper {

  // --- test_transform (wallmart_pipeline_pytest.py:5-20), same fixture ---
  test("transform fills nulls, derives Month, filters > 10000") {
    val schema = StructType(Seq(
      StructField("Store_ID", LongType),
      StructField("Weekly_Sales", DoubleType),
      StructField("IsHoliday", BooleanType),
      StructField("CPI", DoubleType),
      StructField("Unemployment", DoubleType),
      StructField("Date", StringType)))
    val rows = Seq(
      Row(1L, 15000.0, false, 200.5, 6.5, "2024-01-15T00:00:00.000"),
      Row(2L, null, true, null, 7.1, "2024-02-20T00:00:00.000"),
      Row(3L, 8000.0, false, 190.3, null, "2024-03-10T00:00:00.000"))
    val data = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), schema)

    val transformed = WalmartPipeline.transform(data)

    assert(transformed.columns.contains("Month"), "Month column not created")
    for (c <- Seq("Weekly_Sales", "CPI", "Unemployment"))
      assert(transformed.filter(col(c).isNull).count() == 0, s"Missing $c not filled")
    val minSales = transformed.agg(min("Weekly_Sales")).first().getDouble(0)
    assert(minSales > 10000, "Filtering condition not applied correctly")
    // Stronger than the reference: the null Weekly_Sales must be filled
    // with the column mean (15000+8000)/2 = 11500 and survive the filter.
    assert(transformed.count() == 2)
    assert(transformed.filter(col("Store_ID") === 2).first()
      .getAs[Double]("Weekly_Sales") == 11500.0)
  }

  // --- test_avg_weekly_sales_per_month (wallmart_pipeline_pytest.py:22-33) ---
  test("avgWeeklySalesPerMonth groups, renames and rounds") {
    import spark.implicits._
    val clean = Seq(
      (1, 20000.0), (1, 18000.0), (2, 22000.0),
      (2, 21000.0), (3, 25000.0), (3, 23000.0)
    ).toDF("Month", "Weekly_Sales")

    val agg = WalmartPipeline.avgWeeklySalesPerMonth(clean)

    assert(agg.columns.contains("Month"), "Month column missing in aggregated data")
    assert(agg.columns.contains("Avg_Sales"), "Avg_Sales column missing")
    assert(agg.count() == 3, "Incorrect number of months aggregated")
    val m1 = agg.filter($"Month" === 1).first().getAs[Double]("Avg_Sales")
    assert(m1 == 19000.0, "Incorrect average calculation for month 1")
  }

  test("avgWeeklySalesPerMonth sorts in one partition, with no range shuffle") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val clean = (0 until 600).map(i => ((i * 7) % 12 + 1, 10000.0 + i))
      .toDF("Month", "Weekly_Sales").repartition(4)

    val agg = WalmartPipeline.avgWeeklySalesPerMonth(clean)
    val months = agg.collect().map(_.getInt(0)).toSeq

    assert(months == (1 to 12))
    assert(agg.rdd.getNumPartitions == 1)
    val helper = new AdaptiveSparkPlanHelper {}
    val ranges = helper.collect(agg.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }
    assert(ranges.isEmpty, agg.queryExecution.executedPlan)
  }

  // --- golden end-to-end on the reference's shipped inputs ---
  test("full pipeline on reference inputs reproduces golden agg_data") {
    import spark.implicits._
    val outDir = graft.ops.Core.tmp("graft_e2e")

    val merged = WalmartPipeline.extract(spark,
      "/root/reference/grocery_sales.csv", "/root/reference/extra_data.parquet")
    assert(merged.count() == 20000, "extract: inner join on unique index keeps all CSV rows")

    val clean = WalmartPipeline.transform(merged)
    assert(clean.count() == 10971, "clean_data row count (BASELINE.md)")
    assert(clean.columns.toSeq ==
      Seq("Store_ID", "Weekly_Sales", "IsHoliday", "CPI", "Unemployment", "Month"))
    // 25 rows carry a null Month (unparseable/null Date) — SURVEY.md §7.1.
    assert(clean.filter($"Month".isNull).count() == 25)

    val agg = WalmartPipeline.avgWeeklySalesPerMonth(clean)
    val got = agg.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val golden = Map( // BASELINE.md golden agg_data
      1 -> 40001.26, 2 -> 40932.18, 3 -> 39731.28, 4 -> 40262.77,
      5 -> 40077.05, 6 -> 42214.58, 7 -> 40331.23, 8 -> 40031.06,
      9 -> 40219.42, 10 -> 39286.29, 11 -> 43455.06, 12 -> 44893.31)
    assert(got == golden, s"agg_data mismatch: $got")

    // load + validate (O14/O16): both sinks written and present.
    val results = WalmartPipeline.run(spark,
      "/root/reference/grocery_sales.csv", "/root/reference/extra_data.parquet", outDir)
    assert(results.size == 2 && results.forall(_._2), s"validation failed: $results")

    // Written agg_data CSV reads back to the same 12 rows.
    val aggBack = spark.read.option("header", "true")
      .schema(StructType(Seq(
        StructField("Month", IntegerType), StructField("Avg_Sales", DoubleType))))
      .csv(s"$outDir/agg_data")
    val back = aggBack.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(back == golden, s"agg_data CSV round-trip mismatch: $back")
  }

  test("transform is a graceful no-op fill when a column is entirely null") {
    val schema = StructType(Seq(
      StructField("Store_ID", LongType),
      StructField("Weekly_Sales", DoubleType),
      StructField("IsHoliday", BooleanType),
      StructField("CPI", DoubleType),
      StructField("Unemployment", DoubleType),
      StructField("Date", StringType)))
    val rows = Seq(
      Row(1L, 15000.0, false, null, 6.5, "2024-01-15T00:00:00.000"),
      Row(2L, 12000.0, true, null, 7.1, "bad date"))
    val data = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    // pandas fillna(NaN) leaves the column null — no exception, CPI stays null.
    val out = WalmartPipeline.transform(data)
    assert(out.count() == 2)
    assert(out.filter(col("CPI").isNull).count() == 2)
    // the malformed date coerces to null Month rather than raising (ANSI-safe)
    assert(out.filter(col("Month").isNull).count() == 1)
  }

  test("transformObserved reports input health and yield without extra scans") {
    val schema = StructType(Seq(
      StructField("Store_ID", LongType),
      StructField("Weekly_Sales", DoubleType),
      StructField("IsHoliday", BooleanType),
      StructField("CPI", DoubleType),
      StructField("Unemployment", DoubleType),
      StructField("Date", StringType)))
    val rows = Seq(
      Row(1L, 15000.0, false, 200.5, 6.5, "2024-01-15T00:00:00.000"),
      Row(2L, null, true, null, 7.1, "2024-02-20T00:00:00.000"),
      Row(3L, 8000.0, false, 190.3, null, "not a date"))
    val data = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    val (out, inObs, outObs) = WalmartPipeline.transformObserved(data)
    val kept = out.count()
    // input observation is satisfied by the impute-means job the
    // transform already runs; output observation by the count above
    val in = inObs.get
    val o = outObs.get
    assert(in("n_rows") == 3L && in("n_null_sales") == 1L &&
      in("n_null_cpi") == 1L && in("n_null_unemp") == 1L, s"in=$in")
    // row 3's sales (8000) < 10000 drops; rows 1-2 survive (2 filled to mean)
    assert(kept == 2L && o("n_kept") == 2L, s"out=$o kept=$kept")
    // row 3 would have null Month (bad date) but is filtered before; the
    // surviving rows parse clean
    assert(o("n_null_month") == 0L, s"out=$o")
    // observed semantics identical to the un-observed transform
    val plain = WalmartPipeline.transform(data)
    assert(plain.collect().toSet == out.collect().toSet)
  }
}
