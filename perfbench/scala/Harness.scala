package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.{LinkedHashMap => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** Closed-loop driver for one benchmark run.
  *
  * `Harness <plan.json> <result.json>` reads the run plan the Python
  * runner generated (workload, seeded operation order, input paths,
  * expected outputs), creates one `local[nproc]` session, sets the
  * workload up, warms it up (ending with one untimed pass), then times the
  * plan's number of passes, one operation after another. Every operation's
  * output is checked outside its timed region. The result file holds one
  * record per timed operation plus setup time, storage and (in traced
  * runs) the per-layer counters; the runner turns it into metrics.
  */
object Harness {
  private val mapper = new ObjectMapper()

  /** Wall clock in epoch nanoseconds, comparable with the runner's clock. */
  private def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  /** The machine-wide `cpu` line of /proc/stat, where it exists. */
  private def cpuJiffies(): Option[Seq[Long]] =
    try Files.readAllLines(Paths.get("/proc/stat")).asScala.find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+").toSeq.drop(1).map(_.toLong))
    catch { case _: Exception => None }

  final case class OpRecord(kind: String, module: String, seconds: Double,
                            ok: Boolean, error: String, traced: Boolean,
                            startMs: Long, endMs: Long, inputBytes: Long)

  /** Set in traced runs; a traced operation runs with its listener on. */
  @volatile private var tracer: Option[Tracer] = None

  /** One timed operation: `body` runs inside the timed region and returns
    * the value `check` inspects afterwards (untimed). A thrown exception or
    * a failed check makes the operation count as failed.
    */
  def timed[T](kind: String, module: String, traced: Boolean, inputBytes: Long = 0L)(
      body: => T)(check: T => Option[String]): OpRecord = {
    if (traced) tracer.foreach(_.start())
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val result = try Right(body) catch { case e: Throwable => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    if (traced) tracer.foreach(_.stop())
    val err = result match {
      case Left(e) => Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      case Right(v) =>
        try check(v) catch { case e: Throwable => Some(s"check failed: ${e.getMessage}") }
    }
    OpRecord(kind, module, dt, err.isEmpty, err.getOrElse(""), traced, startMs, endMs, inputBytes)
  }

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(Files.readString(Paths.get(args(0))))
    val outPath = Paths.get(args(1))
    val nproc = plan.get("nproc").asInt()
    val trace = plan.get("trace").asBoolean()
    val dirs = plan.get("dirs")
    val spark = SparkSession.builder()
      .withExtensions(graft.functions.GraftExtensions.inject)
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", dirs.get("spark").asText())
      .config("spark.sql.warehouse.dir", dirs.get("data").asText() + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val ctx = new RunContext(spark, plan)
    val workload: Workload = plan.get("workload").asText() match {
      case "etl_batches" => new EtlBatches(ctx)
      case "catalog_mix" => new CatalogMix(ctx)
      case "table_commits" => new TableCommits(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    def mark(what: String): Unit = System.err.println(
      f"[harness] $what at ${(epochNs() - plan.get("launch_epoch_ns").asLong()) / 1e9}%.2f s")
    mark("session ready")
    val compilesAtStart = Tracer.codegenCount
    workload.setup()
    mark("setup done")
    workload.warmup()
    // pass 0 runs untimed, in the order a timed pass takes: after one run of
    // each operation the JIT is still compiling, and timed first passes ran
    // slower than later ones
    workload.pass(0, _ => false).find(!_.ok).foreach { o =>
      throw new IllegalStateException(s"warm-up pass: ${o.kind}: ${o.error}")
    }
    mark("warm-up done")
    spark.catalog.clearCache()
    val setupEndNs = epochNs()
    val compilesAtSetup = Tracer.codegenCount
    System.gc()

    val nPasses = plan.get("passes").asInt()
    val passes = scala.collection.mutable.ArrayBuffer[Seq[OpRecord]]()
    val cpuAtStart = cpuJiffies()
    val loopStart = System.nanoTime()
    if (trace) tracer = Some(new Tracer(spark, nproc))
    val kindIndex = workload.kinds.zipWithIndex.toMap
    while (passes.size < nPasses && workload.hasPass(passes.size + 1)) {
      // traced runs trace every other operation kind and swap the halves in
      // the next pass, so each kind has traced and untraced latencies to compare
      val p = passes.size + 1
      passes += workload.pass(p, k => trace && (p + kindIndex(k)) % 2 == 1)
      spark.catalog.clearCache()
      System.gc() // untimed: between passes, never inside an operation
    }
    val loopWall = (System.nanoTime() - loopStart) / 1e9
    val cpuAtEnd = cpuJiffies()
    val ops = passes.flatten.toSeq

    val result = new JMap[String, Any]()
    result.put("setup_end_epoch_ns", setupEndNs)
    result.put("timed_wall_s", loopWall)
    result.put("passes", passes.size)
    result.put("ops", ops.map { o =>
      val m = new JMap[String, Any]()
      m.put("kind", o.kind); m.put("module", o.module); m.put("seconds", o.seconds)
      m.put("ok", o.ok); m.put("error", o.error); m.put("traced", o.traced)
      m
    }.asJava)
    result.put("stored_bytes", ctx.storedBytes())
    result.put("input_bytes", ctx.du(ctx.inputDir))
    result.put("extra", workload.finish())
    val env = new JMap[String, Any]()
    env.put("spark_version", spark.version)
    env.put("nproc", nproc)
    env.put("shuffle_partitions", spark.conf.get("spark.sql.shuffle.partitions"))
    env.put("heap_max_mb", Runtime.getRuntime.maxMemory() >> 20)
    env.put("java_version", System.getProperty("java.version"))
    // share of CPU time the hypervisor gave to other guests while timing:
    // on a shared host this, not the engine, explains most run-to-run drift
    for (a <- cpuAtStart; b <- cpuAtEnd) {
      val d = b.zip(a).map { case (x, y) => x - y }
      if (d.sum > 0) env.put("steal_frac", d(7).toDouble / d.sum)
    }
    result.put("env", env)
    tracer.foreach { t =>
      val layers = new JMap[String, Any]()
      t.sparkLayers(ops).foreach { case (k, v) => layers.put(k, v) }
      layers.put("codegen.compiles", (Tracer.codegenCount - compilesAtStart).toDouble)
      layers.put("codegen.compile_s", Tracer.codegenSeconds(Tracer.codegenCount - compilesAtStart))
      layers.put("codegen.setup_compiles", (compilesAtSetup - compilesAtStart).toDouble)
      workload.layers(ops, t).foreach { case (k, v) => layers.put(k, v) }
      result.put("layers", layers)
    }
    Files.writeString(outPath, mapper.writeValueAsString(result))
    spark.stop()
  }
}

/** What every workload shares: the session, the plan and the directories.
  * `input` holds the generated inputs, `data` what the engine writes, and
  * `reference` the benchmark's own copies of results for the runner.
  */
final class RunContext(val spark: SparkSession, val plan: JsonNode) {
  private val dirs = plan.get("dirs")
  val inputDir: Path = Paths.get(dirs.get("input").asText())
  val dataDir: Path = Paths.get(dirs.get("data").asText())
  val referenceDir: Path = Paths.get(dirs.get("reference").asText())
  val tmpDir: Path = Paths.get(System.getProperty("java.io.tmpdir"))
  def workload: JsonNode = plan.get("spec")

  /** Bytes under `p` (0 if absent). */
  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Bytes the system holds on disk for this run: its inputs, everything it
    * wrote under the data directory, and the scratch tables the engine keeps
    * under the JVM temp directory (directories only — the top-level files
    * there are native libraries unpacked by compression codecs).
    */
  def storedBytes(): Long = {
    val scratch = {
      val s = Files.list(tmpDir)
      try s.iterator().asScala.filter(Files.isDirectory(_)).map(du).sum
      finally s.close()
    }
    du(inputDir) + du(dataDir) + scratch
  }
}

trait Workload {
  def setup(): Unit
  def warmup(): Unit
  def hasPass(i: Int): Boolean
  /** The operation kinds a pass holds; an operation's `OpRecord.kind`. */
  def kinds: Seq[String]
  /** Pass `i`; `traced(kind)` tells whether its operations of `kind` are traced. */
  def pass(i: Int, traced: String => Boolean): Seq[Harness.OpRecord]
  /** Untimed end-of-run checks and facts for the runner. */
  def finish(): java.util.Map[String, Any]
  /** Per-layer metrics of a traced run, from all its timed operations. */
  def layers(ops: Seq[Harness.OpRecord], t: Tracer): Seq[(String, Double)]
}

object Workload {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
