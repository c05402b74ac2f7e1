package graft.etl

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSessionTestWrapper

/** What one `WalmartPipeline.run` reads, writes and leaves cached, on a
  * generated batch whose extra_data is split across two parquet files.
  */
class PipelineScanSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private val SalesRows = 2000

  /** A grocery_sales CSV of `SalesRows` rows and an extra_data parquet
    * directory of two files holding ten times as many keys, the larger
    * side, as in the reference pair.
    */
  private lazy val batch: (String, String, Long) = {
    val dir = Paths.get(graft.ops.Core.tmp("graft_scan_batch"))
    val rnd = new scala.util.Random(5)
    val lines = "\"level_0\",\"index\",\"Store_ID\",\"Date\",\"Dept\",\"Weekly_Sales\"" +:
      (0 until SalesRows).map { i =>
        val date = f"2011-${1 + i % 12}%02d-${1 + i % 28}%02dT00:00:00.000"
        val sales = if (i % 97 == 0) "" else f"${rnd.nextDouble() * 40000}%.2f"
        s""""$i","${i * 7}","${1 + i % 2}","$date","${i % 78}","$sales""""
      }
    val csv = dir.resolve("grocery_sales.csv")
    Files.write(csv, lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    val parquet = dir.resolve("extra_data.parquet")
    spark.range(0, SalesRows * 10L).select(
      col("id").as("index"),
      (col("id") % 2).as("IsHoliday"),
      (rand(1) * 100 + 126).as("CPI"),
      (rand(2) * 10 + 4).as("Unemployment"),
      (rand(3) * 90).as("Temperature"),
      (rand(4) * 5000).as("MarkDown1"))
      .repartition(2).write.parquet(parquet.toString)
    val bytes = Files.size(csv) + files(parquet, ".parquet").map(Files.size).sum
    (csv.toString, parquet.toString, bytes)
  }

  private def files(dir: Path, suffix: String): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(suffix)).toSeq
    finally s.close()
  }

  /** Executed plans of every query `body` runs, once the listener bus has
    * delivered them: a marker query runs last and its event is awaited.
    */
  private def executedPlans(body: => Unit): Seq[SparkPlan] = {
    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen.add(qe)
    }
    spark.listenerManager.register(listener)
    try {
      body
      val marker = spark.range(1)
      marker.collect()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.asScala.exists(_ eq marker.queryExecution) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.asScala.exists(_ eq marker.queryExecution), "query events not delivered")
      seen.asScala.filterNot(_ eq marker.queryExecution).map(_.executedPlan).toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  /** File scans of a plan, descending into adaptive stages, reused
    * exchanges and the plans that built cached data.
    */
  private def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case s: FileSourceScanExec => Seq(s)
    case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
    case q: QueryStageExec => fileScans(q.plan)
    case r: ReusedExchangeExec => fileScans(r.child)
    case m: InMemoryTableScanExec => fileScans(m.relation.cachedPlan)
    case c: CommandResultExec => fileScans(c.commandPhysicalPlan)
    case other => (other.children ++ other.subqueries).flatMap(fileScans)
  }

  test("run reads each input file once") {
    val (csv, parquet, inputBytes) = batch
    assert(files(Paths.get(parquet), ".parquet").size >= 2)
    var results = Seq.empty[(String, Boolean)]
    val plans = executedPlans {
      results = WalmartPipeline.run(spark, csv, parquet, graft.ops.Core.tmp("graft_scan_out"))
    }
    assert(results.map(_._2) == Seq(true, true), s"validate: $results")

    // distinct scan nodes, by identity: every query plans its own scans,
    // and all readers of one cached copy share the scans that built it
    val scans = new java.util.IdentityHashMap[FileSourceScanExec, Unit]()
    plans.flatMap(fileScans).foreach(scans.put(_, ()))
    val read = scans.keySet.asScala.toSeq.map(_.metrics("filesSize").value).sum
    assert(read == inputBytes, s"scans read $read bytes of a $inputBytes-byte batch")
  }

  test("run writes each small sink as one part file") {
    val (csv, parquet, _) = batch
    val out = graft.ops.Core.tmp("graft_scan_out")
    WalmartPipeline.run(spark, csv, parquet, out)
    for (sink <- Seq("clean_data", "agg_data")) {
      val parts = files(Paths.get(out, sink), ".csv").filter(_.getFileName.toString.startsWith("part-"))
      assert(parts.size == 1, s"$sink: ${parts.map(_.getFileName)}")
    }
  }

  test("run leaves the cache manager as it found it, also when load throws") {
    val (csv, parquet, _) = batch
    val cache = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    // a cache run does not own: it must survive, and be all that is left
    val other = spark.range(10).toDF("x").persist()
    other.count()
    def leftAsFound(): Unit = {
      assert(other.storageLevel != StorageLevel.NONE, "run released a cache it does not own")
      other.unpersist(blocking = true)
      assert(cache.isEmpty, "run left cached data behind")
      other.persist()
    }
    try {
      WalmartPipeline.run(spark, csv, parquet, graft.ops.Core.tmp("graft_scan_ok"))
      leftAsFound()

      // an existing regular file as the output directory: load cannot
      // create the sinks after transform has cached its input
      val notADir = Files.createFile(Paths.get(graft.ops.Core.tmp("graft_scan_file"), "out"))
      intercept[Exception] {
        WalmartPipeline.run(spark, csv, parquet, notADir.toString)
      }
      leftAsFound()
    } finally other.unpersist(blocking = true)
  }

  test("run keeps the copy a stage-by-stage caller persisted") {
    val (csv, parquet, _) = batch
    val cache = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    val merged = WalmartPipeline.extract(spark, csv, parquet)
    WalmartPipeline.transform(merged).count()
    WalmartPipeline.run(spark, csv, parquet, graft.ops.Core.tmp("graft_scan_ok"))
    assert(!cache.isEmpty, "run released the caller's copy")
    WalmartPipeline.release(merged)
    assert(cache.isEmpty)
  }
}
