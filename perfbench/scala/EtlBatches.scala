package perfbench

import java.nio.file.{Files, Path}
import java.util.{LinkedHashMap => JMap}

import scala.jdk.CollectionConverters._

import graft.etl.WalmartPipeline

/** `etl_batches`: one operation is one `WalmartPipeline.run` over one
  * generated grocery_sales CSV + extra_data parquet batch. Each batch owns
  * an output directory the pipeline overwrites, as a re-run of the job on
  * the same input would. Each operation's `agg_data` is checked against the
  * runner's independent DuckDB computation over the same batch.
  */
final class EtlBatches(ctx: RunContext) extends Workload {
  private val spark = ctx.spark
  private val spec = ctx.workload
  private final case class Batch(csv: String, parquet: String, bytes: Long,
                                 expect: Map[Int, Double])
  private val batches = spec.get("batches").asScala.toSeq.map { b =>
    Batch(b.get("csv").asText(), b.get("parquet").asText(), b.get("bytes").asLong(),
      b.get("expect").asScala.map(r => r.get(0).asInt() -> r.get(1).asDouble()).toMap)
  }
  private val orders = spec.get("passes").asScala.map(_.asScala.map(_.asInt()).toSeq).toSeq
  private def outDir(i: Int): Path = ctx.dataDir.resolve(s"etl/batch_$i")

  // per traced operation: stage name -> seconds, and the operation itself
  private val stageTimes = scala.collection.mutable.ArrayBuffer[(Map[String, Double], Harness.OpRecord)]()

  def setup(): Unit = ()

  /** Every batch once, untimed. The pipeline injects each batch's fill
    * means into its plan as literals, so each batch compiles classes of its
    * own on its first run; the warm-up keeps those compiles out of the
    * timed operations. */
  def warmup(): Unit = batches.indices.foreach { i =>
    val v = WalmartPipeline.run(spark, batches(i).csv, batches(i).parquet, outDir(i).toString)
    check(i, v).foreach(e => throw new IllegalStateException(s"warm-up: $e"))
  }

  /** `agg_data` as written: Month -> Avg_Sales, versus the expected map. */
  private def check(i: Int, validated: Seq[(String, Boolean)]): Option[String] = {
    if (validated.exists(!_._2)) return Some(s"batch $i: validate reported a missing output")
    val files = {
      val s = Files.list(outDir(i).resolve("agg_data"))
      try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".csv")).toSeq
      finally s.close()
    }
    val got = files.flatMap(f => Files.readAllLines(f).asScala.drop(1))
      .filter(_.nonEmpty).map { l =>
        val Array(m, v) = l.split(",")
        m.trim.toInt -> v.trim.toDouble
      }.toMap
    val want = batches(i).expect
    if (got.keySet != want.keySet) Some(s"batch $i: months ${got.keySet.toSeq.sorted} != ${want.keySet.toSeq.sorted}")
    else want.collectFirst {
      // both sides round to 2 dp; an average on a rounding boundary may land
      // one cent apart depending on summation order
      case (m, v) if math.abs(got(m) - v) > 0.01 + 1e-9 => s"batch $i month $m: ${got(m)} != $v"
    }
  }

  def hasPass(i: Int): Boolean = i < orders.size

  def kinds: Seq[String] = batches.indices.map(kind)
  private def kind(i: Int) = s"batch_$i"

  def pass(p: Int, traced: String => Boolean): Seq[Harness.OpRecord] = orders(p).map { i =>
    spark.catalog.clearCache()
    val b = batches(i)
    val out = outDir(i).toString
    if (!traced(kind(i)))
      Harness.timed(kind(i), "etl", traced = false, b.bytes) {
        WalmartPipeline.run(spark, b.csv, b.parquet, out)
      }(v => check(i, v))
    else {
      // the same calls `run` makes, timed one stage at a time
      val st = scala.collection.mutable.LinkedHashMap[String, Double]()
      def stage[T](name: String)(f: => T): T = {
        val t0 = System.nanoTime(); val r = f
        st(name) = (System.nanoTime() - t0) / 1e9; r
      }
      val rec = Harness.timed(kind(i), "etl", traced = true, b.bytes) {
        val merged = stage("extract")(WalmartPipeline.extract(spark, b.csv, b.parquet))
        val clean = stage("transform")(WalmartPipeline.transform(merged))
        val agg = stage("aggregate")(WalmartPipeline.avgWeeklySalesPerMonth(clean))
        val paths = stage("load")(WalmartPipeline.load(
          Map("clean_data" -> clean, "agg_data" -> agg), out))
        stage("validate")(WalmartPipeline.validate(paths))
      }(v => check(i, v))
      stageTimes += ((st.toMap, rec))
      rec
    }
  }

  def finish(): java.util.Map[String, Any] = new JMap[String, Any]()

  def layers(ops: Seq[Harness.OpRecord], t: Tracer): Seq[(String, Double)] = {
    def stageMean(s: String) = Workload.mean(stageTimes.map(_._1.getOrElse(s, 0.0)).toSeq)
    val traced = stageTimes.map(_._2).toSeq
    val read = t.scannedBytes.toDouble
    val in = traced.map(_.inputBytes).sum.toDouble
    Seq("extract", "transform", "aggregate", "load", "validate").map(s => s"etl.${s}_s" -> stageMean(s)) ++
      Seq("etl.scan_bytes_per_input_byte" -> (if (in > 0) read / in else 0.0),
        "etl.jobs_per_op" -> Workload.mean(traced.map(t.jobsOf(_).toDouble)))
  }
}
