package perfbench

import java.nio.file.Files
import java.util.{LinkedHashMap => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** `catalog_mix`: catalog queries from `SparkEntry.queries` in a seeded
  * order, one query per operation. An operation collects every
  * row and column of the query's result — what a client receives — and is
  * checked against the warm-up result of the same query, which the runner
  * in turn checks against the query's DuckDB twin.
  */
final class CatalogMix(ctx: RunContext) extends Workload {
  private val spark = ctx.spark
  private val dir = ctx.inputDir.toString
  private val spec = ctx.workload
  private val names = spec.get("queries").asScala.map(_.asText()).toSeq
  private val orders = spec.get("passes").asScala.map(_.asScala.map(_.asText()).toSeq).toSeq
  private val all = graft.SparkEntry.queries
  private val modules: Seq[(String, Set[String])] = Seq(
    "ops.Core" -> graft.ops.Core.queries.keySet,
    "ops.Relational" -> graft.ops.Relational.queries.keySet,
    "ops.Sketching" -> graft.ops.Sketching.queries.keySet,
    "ops.Layout" -> graft.ops.Layout.queries.keySet,
    "ops.Dedup" -> graft.ops.Dedup.queries.keySet,
    "ops.Similarity" -> graft.ops.Similarity.queries.keySet,
    "ops.TextAnalysis" -> graft.ops.TextAnalysis.queries.keySet,
    "ops.Multimodal" -> graft.ops.Multimodal.queries.keySet)
  private def moduleOf(q: String): String =
    modules.collectFirst { case (m, ks) if ks(q) => m }.getOrElse("other")

  private val reference = scala.collection.mutable.Map[String, String]()
  private val usesNativePlan = scala.collection.mutable.Set[String]()

  def setup(): Unit = names.foreach { n =>
    require(all.contains(n), s"unknown query $n")
    require(graft.SparkEntry.oracleSql.contains(n), s"query $n has no DuckDB twin")
  }

  /** One untimed run of every query, `nproc` at a time: it pays the layout
    * artifacts the queries build on first use and the codegen compiles, and
    * its results become the reference each timed run must reproduce. The
    * results are dumped for the runner's DuckDB check.
    */
  def warmup(): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      ctx.plan.get("nproc").asInt())
    try {
      val futures = names.map { n =>
        pool.submit(new java.util.concurrent.Callable[(String, Array[Row], DataFrame)] {
          def call() = { val df = all(n)(spark, dir); (n, df.collect(), df) }
        })
      }
      futures.map(_.get()).foreach { case (n, rows, df) =>
        reference(n) = Canonical.digest(df.columns.toSeq, rows)
        Canonical.dump(ctx.referenceDir.resolve(n + ".json"), df.columns.toSeq, rows)
        if (Canonical.graftPlanNodes(df.queryExecution.executedPlan).nonEmpty)
          usesNativePlan += n
      }
    } finally pool.shutdown()
  }

  def hasPass(i: Int): Boolean = i < orders.size

  def kinds: Seq[String] = names

  def pass(i: Int, traced: String => Boolean): Seq[Harness.OpRecord] = orders(i).map { n =>
    spark.catalog.clearCache()
    val fn = all(n)
    Harness.timed(n, moduleOf(n), traced(n)) {
      val df = fn(spark, dir)
      (df.columns.toSeq, df.collect())
    } { case (cols, rows) =>
      if (Canonical.digest(cols, rows) == reference(n)) None
      else Some(s"$n: result differs from its warm-up result")
    }
  }

  def finish(): java.util.Map[String, Any] = {
    val m = new JMap[String, Any]()
    val oracle = new JMap[String, Any]()
    names.foreach(n => oracle.put(n, graft.SparkEntry.oracleSql(n)))
    m.put("oracle_sql", oracle)
    m.put("native_plan_queries", usesNativePlan.toSeq.sorted.asJava)
    m
  }

  def layers(ops: Seq[Harness.OpRecord], t: Tracer): Seq[(String, Double)] = {
    val byModule = modules.map { case (m, _) =>
      s"$m.op_s" -> Workload.mean(ops.filter(_.module == m).map(_.seconds))
    }
    byModule :+ ("plans.op_s" ->
      Workload.mean(ops.filter(o => usesNativePlan(o.kind)).map(_.seconds)))
  }
}

/** Order-independent, tolerance-aware views of a query result. */
object Canonical {
  private val mapper = new ObjectMapper()

  private object PlanWalk extends AdaptiveSparkPlanHelper
  /** Physical operators this engine contributes (package `graft.plans`). */
  def graftPlanNodes(p: SparkPlan): Seq[SparkPlan] =
    PlanWalk.collect(p) { case n if n.getClass.getName.startsWith("graft.plans.") => n }

  /** A stable string for one value; floating values keep 10 significant
    * digits so a last-bit difference in summation order does not count.
    */
  def render(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else "%.10g".formatLocal(java.util.Locale.ROOT, d)
    case f: Float => render(f.toDouble)
    case b: java.math.BigDecimal => render(b.doubleValue)
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("<", ",", ">")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case other => other.toString
  }

  /** Column-name-sorted, row-sorted fingerprint of a result. */
  def digest(cols: Seq[String], rows: Array[Row]): String = {
    val order = cols.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => render(r.get(i))).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(cols.sorted.mkString(",").getBytes("UTF-8"))
    lines.foreach(l => { md.update(l.getBytes("UTF-8")); md.update(10.toByte) })
    md.digest().map("%02x".format(_)).mkString + s"/${rows.length}"
  }

  /** JSON-ready value: timestamps as epoch microseconds, dates as ISO
    * strings, decimals as doubles, structs as lists of field values.
    */
  private def plain(v: Any): Any = v match {
    case null => null
    case d: Double if d.isNaN || d.isInfinite => d.toString
    case f: Float => plain(f.toDouble)
    case b: java.math.BigDecimal => b.doubleValue
    case t: java.sql.Timestamp => plain(t.toInstant)
    case i: java.time.Instant => i.getEpochSecond * 1000000L + i.getNano / 1000
    case l: java.time.LocalDateTime =>
      val i = l.toInstant(java.time.ZoneOffset.UTC); i.getEpochSecond * 1000000L + i.getNano / 1000
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case r: Row => r.toSeq.map(plain).asJava
    case s: scala.collection.Seq[_] => s.map(plain).asJava
    case m: scala.collection.Map[_, _] =>
      val out = new JMap[String, Any]()
      m.foreach { case (k, x) => out.put(String.valueOf(plain(k)), plain(x)) }
      out
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case other => other
  }

  def dump(path: java.nio.file.Path, cols: Seq[String], rows: Array[Row]): Unit = {
    val m = new JMap[String, Any]()
    m.put("columns", cols.asJava)
    m.put("rows", rows.map(r => r.toSeq.map(plain).asJava).toSeq.asJava)
    Files.writeString(path, mapper.writeValueAsString(m))
  }
}
