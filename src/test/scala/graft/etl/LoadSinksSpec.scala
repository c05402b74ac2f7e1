package graft.etl

import java.nio.file.{Files, Paths}
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSessionTestWrapper

/** UDFs that meet across the writes of one `load`; tasks run in the
  * driver's JVM under `local[*]`, so a latch here is seen by all of them.
  */
object LoadSinksSpec {
  private val latches = new ConcurrentHashMap[String, CountDownLatch]()
  private def latch(key: String) = latches.computeIfAbsent(key, _ => new CountDownLatch(1))

  /** Passes rows through once `key` is released; fails after 30 s. */
  def awaiting(key: String): UserDefinedFunction = udf { (x: Long) =>
    if (!latch(key).await(30, TimeUnit.SECONDS))
      throw new IllegalStateException(s"latch $key was not released within 30 s")
    x
  }.asNondeterministic()

  def releasing(key: String): UserDefinedFunction = udf { (x: Long) =>
    latch(key).countDown()
    x
  }.asNondeterministic()

  def sleeping(ms: Long): UserDefinedFunction = udf { (x: Long) =>
    Thread.sleep(ms)
    x
  }.asNondeterministic()

  def failing(message: String): UserDefinedFunction = udf { (x: Long) =>
    if (x >= 0) throw new IllegalStateException(message)
    x
  }.asNondeterministic()
}

/** `load` writes its sinks concurrently, waits for all of them, and
  * publishes them only once every write has succeeded.
  */
class LoadSinksSpec extends AnyFunSuite with SparkSessionTestWrapper {
  import LoadSinksSpec._

  private def rows(f: UserDefinedFunction, n: Long = 4): DataFrame =
    spark.range(n).select(f(col("id")).as("id"))

  private def plain(from: Long): DataFrame = spark.range(from, from + 4).toDF("id")

  /** Every write `load` started has ended: the status store, fed by the
    * listener bus, lists no active job once a later fence job has ended.
    */
  private def activeJobsSettled(): Seq[Int] = {
    val sc = spark.sparkContext
    val fence = s"fence-${UUID.randomUUID()}"
    sc.setJobGroup(fence, fence)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 60L * 1000000000L
    def fenceEnded = {
      val ids = sc.statusTracker.getJobIdsForGroup(fence)
      ids.nonEmpty && ids.forall(id => sc.statusTracker.getJobInfo(id).exists(
        _.status == org.apache.spark.JobExecutionStatus.SUCCEEDED))
    }
    while (!fenceEnded && System.nanoTime() < deadline) Thread.sleep(20)
    assert(fenceEnded, "the status store never saw the fence job end")
    sc.statusTracker.getActiveJobIds.toSeq
  }

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  test("load writes its sinks concurrently") {
    val key = UUID.randomUUID().toString
    val out = graft.ops.Core.tmp("graft_load_conc")
    // in name order a sequential load would write `a` first and wait out its latch
    val paths = WalmartPipeline.load(Map("a" -> rows(awaiting(key)), "b" -> rows(releasing(key))), out)
    assert(paths == Seq(s"$out/a", s"$out/b"))
    assert(WalmartPipeline.validate(paths).forall(_._2))
    assert(spark.read.option("header", "true").csv(paths: _*).count() == 8)
  }

  test("every job of a run carries the caller's job group") {
    val (csv, parquet) = EtlTestKit.batch(spark, 200)
    val sc = spark.sparkContext
    // two runs: a writer thread kept from the first run would carry its group
    for (_ <- 1 to 2) {
      val group = s"run-${UUID.randomUUID()}"
      val groups = EtlTestKit.jobGroupsOf(spark) {
        sc.setJobGroup(group, "pipeline run")
        try WalmartPipeline.run(spark, csv, parquet, graft.ops.Core.tmp("graft_load_group"))
        finally sc.clearJobGroup()
      }
      assert(groups.nonEmpty)
      assert(groups.forall(_ == group), s"job groups: $groups")
    }
  }

  test("a failing sink: load waits for the other write, then throws the failure") {
    val out = graft.ops.Core.tmp("graft_load_fail")
    val e = intercept[Exception] {
      WalmartPipeline.load(Map("a" -> rows(failing("sink a failed")), "b" -> rows(sleeping(500))), out)
    }
    assert(causes(e).exists(_.getMessage == "sink a failed"), e)
    assert(activeJobsSettled().isEmpty, "a write was still running when load returned")
    assert(EtlTestKit.names(Paths.get(out)).isEmpty, "a failed load published or left something")
  }

  test("a failed load keeps the last good outputs") {
    val out = Paths.get(graft.ops.Core.tmp("graft_load_keep"))
    WalmartPipeline.load(Map("a" -> plain(0), "b" -> plain(10)), out.toString)
    val before = EtlTestKit.contents(out)
    intercept[Exception] {
      WalmartPipeline.load(Map("a" -> plain(100), "b" -> rows(failing("sink b failed"))), out.toString)
    }
    assert(EtlTestKit.names(out) == Set("a", "b"))
    assert(EtlTestKit.contents(out) == before)

    // the next good load replaces both, and leaves no staging behind
    WalmartPipeline.load(Map("a" -> plain(200), "b" -> plain(300)), out.toString)
    assert(EtlTestKit.names(out) == Set("a", "b"))
    assert(spark.read.option("header", "true").csv(s"$out/a").collect().map(_.getString(0).toLong)
      .sorted.toSeq == (200L until 204L))
  }

  test("a failed load in run releases the cached copy and logs the stage") {
    val (csv, parquet) = EtlTestKit.batch(spark, 200)
    spark.catalog.clearCache()
    val notADir = Files.createFile(Paths.get(graft.ops.Core.tmp("graft_load_file"), "out"))
    val logFile = Paths.get(graft.ops.Core.tmp("graft_load_log"), "pipeline.log")
    PipelineLog.logFile = Some(logFile)
    try {
      intercept[Exception](WalmartPipeline.run(spark, csv, parquet, notADir.toString))
      assert(spark.sharedState.cacheManager.isEmpty, "run left its cached copy behind")
      val lines = Files.readAllLines(logFile).asScala
      assert(lines.exists(_.contains("Error in load()")), lines.mkString("\n"))
    } finally PipelineLog.logFile = None
  }

  test("validate requires the _SUCCESS marker of a completed write") {
    val out = graft.ops.Core.tmp("graft_validate")
    val paths = WalmartPipeline.load(Map("a" -> plain(0), "b" -> plain(10)), out)
    assert(WalmartPipeline.validate(paths).map(_._2) == Seq(true, true))
    Files.delete(Paths.get(out, "b", "_SUCCESS"))
    assert(WalmartPipeline.validate(paths).map(_._2) == Seq(true, false))
    assert(WalmartPipeline.validate(Seq(s"$out/missing")).map(_._2) == Seq(false))
  }
}
