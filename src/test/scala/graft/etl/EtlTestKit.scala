package graft.etl

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.UUID
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Inputs and probes shared by the pipeline specs. */
object EtlTestKit {

  /** A grocery_sales CSV of `rows` rows and an extra_data parquet
    * directory of two files holding twice as many keys; returns their paths.
    */
  def batch(spark: SparkSession, rows: Int): (String, String) = {
    val dir = Paths.get(graft.ops.Core.tmp("graft_etl_batch"))
    val lines = "\"level_0\",\"index\",\"Store_ID\",\"Date\",\"Dept\",\"Weekly_Sales\"" +:
      (0 until rows).map { i =>
        val date = f"2011-${1 + i % 12}%02d-${1 + i % 28}%02dT00:00:00.000"
        s""""$i","$i","${1 + i % 2}","$date","${i % 78}","${5000 + i * 37 % 20000}""""
      }
    val csv = dir.resolve("grocery_sales.csv")
    Files.write(csv, lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    val parquet = dir.resolve("extra_data.parquet").toString
    spark.range(0, rows * 2L).select(
      col("id").as("index"),
      (col("id") % 2).as("IsHoliday"),
      (col("id") % 100 + 126.5).as("CPI"),
      (col("id") % 10 + 4.25).as("Unemployment"))
      .repartition(2).write.parquet(parquet)
    (csv.toString, parquet)
  }

  /** The job group of every Spark job started while `op` runs, in start
    * order (null for a job without one). A job started after `op` in a
    * fence group proves the listener bus has delivered every earlier start.
    */
  def jobGroupsOf(spark: SparkSession)(op: => Any): Seq[String] = {
    val sc = spark.sparkContext
    val fence = s"fence-${UUID.randomUUID()}"
    val groups = new ConcurrentLinkedQueue[Option[String]]()
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        if (group.contains(fence)) fenced.countDown() else groups.add(group)
      }
    }
    sc.addSparkListener(listener)
    try {
      op
      sc.setJobGroup(fence, fence)
      try sc.emptyRDD[Int].count() finally sc.clearJobGroup()
      assert(fenced.await(60, TimeUnit.SECONDS), "listener bus never delivered the fence job")
      groups.asScala.map(_.orNull).toSeq
    } finally sc.removeSparkListener(listener)
  }

  /** Every file under `dir`, relative path -> bytes. */
  def contents(dir: Path): Map[String, Seq[Byte]] = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => dir.relativize(f).toString -> Files.readAllBytes(f).toSeq).toMap
    finally walk.close()
  }

  def names(dir: Path): Set[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
  }
}
