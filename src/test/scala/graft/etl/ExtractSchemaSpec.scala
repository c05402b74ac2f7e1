package graft.etl

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{MessageTypeParser, Type}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSessionTestWrapper

/** `extract` reads the extra_data schema from a parquet footer on the
  * driver: no Spark job, and the schema Spark's own inference gives.
  */
class ExtractSchemaSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private def dir(prefix: String): Path = Paths.get(graft.ops.Core.tmp(prefix))

  private def assertSparkSchema(path: String): Unit = {
    val inferred = spark.read.parquet(path).schema
    assert(WalmartPipeline.readParquet(spark, path).schema == inferred)
  }

  /** A one-row file written by parquet-hadoop's example writer, which
    * stores no Spark row metadata: the parquet schema alone is converted.
    */
  private def exampleFile(path: Path, message: String): Unit = {
    val schema = MessageTypeParser.parseMessageType(message)
    val writer = ExampleParquetWriter.builder(new HPath(path.toUri))
      .withType(schema).withConf(new Configuration()).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup().append("index", 1L))
    finally writer.close()
  }

  test("extract starts no Spark job") {
    val (csv, parquet) = EtlTestKit.batch(spark, 100)
    assert(Files.exists(Paths.get(parquet, "_SUCCESS")))
    val groups = EtlTestKit.jobGroupsOf(spark) {
      WalmartPipeline.extract(spark, csv, parquet)
    }
    assert(groups.isEmpty, s"extract started ${groups.size} job(s)")
  }

  test("a Spark-written two-file directory with _SUCCESS and .crc sidecars") {
    val (_, parquet) = EtlTestKit.batch(spark, 100)
    val names = EtlTestKit.names(Paths.get(parquet))
    assert(names.count(_.endsWith(".parquet")) == 2, names)
    assert(names("_SUCCESS") && names.exists(_.endsWith(".crc")), names)
    assertSparkSchema(parquet)
  }

  test("a file without Spark's row metadata, with REQUIRED and conf-dependent columns") {
    val d = dir("graft_footer_example")
    exampleFile(d.resolve("example.parquet"),
      """message m {
        |  required int64 index;
        |  optional binary name (STRING);
        |  optional binary raw;
        |  optional int32 day (DATE);
        |  optional int96 legacy_ts;
        |  optional int64 ts_nanos (TIMESTAMP(NANOS,true));
        |  optional group tags (LIST) { repeated group list { optional binary element (STRING); } }
        |}""".stripMargin)
    assertSparkSchema(d.resolve("example.parquet").toString)
    assertSparkSchema(d.toString)
  }

  test("a Spark-written file with a non-nullable column") {
    val p = dir("graft_footer_required").resolve("t").toString
    spark.range(5).select(col("id").as("index"), lit(1.5).as("CPI")).coalesce(1).write.parquet(p)
    val part = EtlTestKit.names(Paths.get(p)).find(_.endsWith(".parquet")).get
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new HPath(p, part), new Configuration()))
    val parquetSchema = try reader.getFileMetaData.getSchema finally reader.close()
    assert(parquetSchema.getType(parquetSchema.getFieldIndex("index")).isRepetition(Type.Repetition.REQUIRED))
    assertSparkSchema(p)
  }

  test("the file Spark picks: summary files first, hidden files skipped, path order") {
    val d = dir("graft_footer_pick")
    def file(name: String, cols: String*): Unit = {
      val tmp = dir("graft_footer_part").resolve("w").toString
      spark.range(2).select(cols.map(c => col("id").as(c)): _*).coalesce(1).write.parquet(tmp)
      val part = EtlTestKit.names(Paths.get(tmp)).find(_.endsWith(".parquet")).get
      Files.move(Paths.get(tmp, part), d.resolve(name))
    }
    file("_hidden.parquet", "index", "hidden")
    file(".dot.parquet", "index", "dot")
    file("b.parquet", "index", "second")
    file("a.parquet", "index", "first")
    assertSparkSchema(d.toString)
    assert(WalmartPipeline.readParquet(spark, d.toString).columns.toSeq == Seq("index", "first"))

    file("_metadata", "index", "metadata")
    assertSparkSchema(d.toString)
    assert(WalmartPipeline.readParquet(spark, d.toString).columns.toSeq == Seq("index", "metadata"))

    file("_common_metadata", "index", "common")
    assertSparkSchema(d.toString)
    assert(WalmartPipeline.readParquet(spark, d.toString).columns.toSeq == Seq("index", "common"))
  }

  test("a partitioned directory keeps its partition columns") {
    val p = dir("graft_footer_parts").resolve("t").toString
    spark.range(6).select(col("id").as("index"), (col("id") % 2).as("k"))
      .write.partitionBy("k").parquet(p)
    assertSparkSchema(p)
    assert(WalmartPipeline.readParquet(spark, p).count() == 6)
  }

  test("a parquet directory without data files fails in extract") {
    val (csv, _) = EtlTestKit.batch(spark, 10)
    val empty = dir("graft_footer_empty")
    Files.createFile(empty.resolve("_SUCCESS"))
    val logFile = dir("graft_footer_log").resolve("pipeline.log")
    PipelineLog.logFile = Some(logFile)
    try {
      intercept[Exception] {
        WalmartPipeline.run(spark, csv, empty.toString, graft.ops.Core.tmp("graft_footer_out"))
      }
      val lines = Files.readAllLines(logFile).asScala
      assert(lines.exists(_.contains("Error in extract():")), lines.mkString("\n"))
    } finally PipelineLog.logFile = None
  }
}
