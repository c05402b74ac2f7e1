package perfbench

import java.util.{LinkedHashMap => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.Row

import graft.table.{CommitConflictException, VersionedTable}

/** `table_commits`: one client writing and reading one `VersionedTable`.
  * The runner's seeded plan is a list of blocks, each holding every
  * operation kind once (append, merge, deleteWhere, compact, latest and
  * time-travel snapshots, change feed). Writes must land on the version the
  * plan predicts; reads must match the digest of the state the plan
  * derived from its own change set; the final snapshot is dumped for the
  * runner's row-by-row check.
  */
final class TableCommits(ctx: RunContext) extends Workload {
  private val spark = ctx.spark
  private val spec = ctx.workload
  private val root = ctx.dataDir.resolve("table")
  private val ops = spec.get("ops").asScala.toSeq
  private val blockSize = spec.get("block_size").asInt()
  private val blocks = ops.tail.grouped(blockSize).toSeq
  private val compactTarget = spec.get("compact_target_bytes").asLong()
  private var table: VersionedTable = _
  private var conflicts = 0
  private var lastVersion = 0L

  def setup(): Unit = {
    val create = ops.head
    table = VersionedTable.create(root.toString,
      spark.read.parquet(create.get("input").asText()), statsCol = Some("c_custkey"))
  }

  /** Block 0, untimed. */
  def warmup(): Unit = blocks.head.foreach { op =>
    val r = run(op, traced = false)
    if (!r.ok) throw new IllegalStateException(s"warm-up: ${r.error}")
  }

  def hasPass(i: Int): Boolean = i + 1 < blocks.size

  def kinds: Seq[String] = ops.tail.map(_.get("op").asText()).distinct

  def pass(i: Int, traced: String => Boolean): Seq[Harness.OpRecord] =
    blocks(i + 1).map(op => run(op, traced(op.get("op").asText())))

  /** (rows, sum of keys, sum of balance cents, sum of name lengths). */
  private def digest(rows: Array[Row]): Seq[Long] = Seq(
    rows.length.toLong,
    rows.map(_.getLong(0)).sum,
    rows.map(r => math.round(r.getDouble(2) * 100)).sum,
    rows.map(_.getString(1).length.toLong).sum)

  private def expectLongs(op: JsonNode): Seq[Long] = op.get("expect").asScala.map(_.asLong()).toSeq

  private def run(op: JsonNode, traced: Boolean): Harness.OpRecord = {
    spark.catalog.clearCache()
    val kind = op.get("op").asText()
    val want = if (op.has("version")) op.get("version").asLong() else -1L
    def written(v: Long): Option[String] = {
      if (v >= 0) lastVersion = v
      if (v == want) None else Some(s"$kind committed version $v, expected $want")
    }
    def read(rows: Array[Row]): Option[String] = {
      val got = digest(rows)
      if (got == expectLongs(op)) None else Some(s"$kind@$want digest $got != ${expectLongs(op)}")
    }
    def guarded(v: => Long): Long =
      try v catch { case e: CommitConflictException => conflicts += 1; throw e }
    kind match {
      case "append" => Harness.timed(kind, "table", traced) {
        guarded(table.append(spark.read.parquet(op.get("input").asText())))
      }(written)
      case "merge" => Harness.timed(kind, "table", traced) {
        guarded(table.merge(spark, spark.read.parquet(op.get("input").asText()), table.latestVersion))
      }(written)
      case "delete" => Harness.timed(kind, "table", traced) {
        guarded(table.deleteWhere(spark, op.get("predicate").asText(), table.latestVersion))
      }(written)
      case "compact" => Harness.timed(kind, "table", traced) {
        guarded(table.compact(spark, compactTarget, table.latestVersion))
      }(written)
      case "snapshot" => Harness.timed(kind, "table", traced) {
        table.snapshot(spark).select("c_custkey", "c_name", "c_acctbal").collect()
      }(read)
      case "time_travel" => Harness.timed(kind, "table", traced) {
        table.snapshot(spark, Some(want)).select("c_custkey", "c_name", "c_acctbal").collect()
      }(read)
      case "changes" => Harness.timed(kind, "table", traced) {
        table.changes(spark, "c_custkey", op.get("from").asLong(), op.get("to").asLong()).collect()
      } { rows =>
        val by = rows.groupBy(_.getString(1))
        def c(t: String) = by.get(t).map(_.length.toLong).getOrElse(0L)
        def s(t: String) = by.get(t).map(_.map(_.getLong(0)).sum).getOrElse(0L)
        val got = Seq(c("insert"), s("insert"), c("delete"), s("delete"), c("update"), s("update"))
        if (got == expectLongs(op)) None else Some(s"changes $got != ${expectLongs(op)}")
      }
    }
  }

  /** The last committed version and its full content, for the runner. */
  def finish(): java.util.Map[String, Any] = {
    val m = new JMap[String, Any]()
    m.put("version", lastVersion)
    m.put("latest_version", table.latestVersion)
    val rows = table.snapshot(spark).select("c_custkey", "c_name", "c_acctbal").collect()
    m.put("rows", rows.map(r => Seq[Any](r.getLong(0), r.getString(1), r.getDouble(2)).asJava).toSeq.asJava)
    m
  }

  def layers(ops: Seq[Harness.OpRecord], t: Tracer): Seq[(String, Double)] = {
    val userBytes = ctx.du(ctx.inputDir).toDouble
    Seq("append", "merge", "delete", "compact", "snapshot", "time_travel", "changes")
      .map(k => s"table.${k}_s" -> Workload.mean(ops.filter(_.kind == k).map(_.seconds))) ++ Seq(
      "table.commit_retries" -> conflicts.toDouble,
      "table.active_files" -> table.activeFiles(table.latestVersion).size.toDouble,
      "table.bytes_written_per_user_byte" -> (if (userBytes > 0) ctx.du(root) / userBytes else 0.0))
  }
}
