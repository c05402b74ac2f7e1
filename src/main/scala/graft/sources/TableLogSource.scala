package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector over a [[graft.table.VersionedTable]] commit
  * log — the DESCRIBE HISTORY surface, readable BOTH ways:
  *
  *   - batch:  `spark.read.format("graft-table-log").load(root)` — one
  *     row per committed version (op, read version, add/remove counts,
  *     rows added, optional txn cursor);
  *   - micro-batch streaming: `spark.readStream.format(...)` — offsets
  *     ARE commit versions, so each trigger emits exactly the versions
  *     committed since the last one: a live table-activity feed (audit,
  *     replication triggers, freshness monitors) with exactly-once
  *     offset bookkeeping handled by the engine's checkpoint.
  *
  * This is the custom-source rung of the extension ladder (the library's
  * other sources ride built-in formats): TableProvider + DataSourceRegister
  * (`META-INF/services` registration, so the short name works with a
  * stock session), a Scan that serves Batch and MicroBatchStream from
  * the same partition/reader code, and a version-number Offset. The log
  * is DRIVER-SCALE metadata (O(versions), like Delta's history), so one
  * input partition per read range is the honest plan shape — the data
  * files the log points at are what's big, and they are read by the
  * table's snapshot paths, not here.
  */
class TableLogSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-table-log"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TableLogSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val path = properties.get("path")
    require(path != null && path.nonEmpty,
      "graft-table-log requires a path (the VersionedTable root)")
    new LogTable(path)
  }
}

object TableLogSource {
  val Schema: StructType = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("read_version", LongType, nullable = false),
    StructField("n_adds", IntegerType, nullable = false),
    StructField("n_removes", IntegerType, nullable = false),
    StructField("rows_added", LongType, nullable = false),
    StructField("txn", LongType, nullable = true)))

  private def logDir(root: String): Path =
    Paths.get(root).resolve(graft.table.VersionedTable.LogDirName)

  /** Latest committed version (−1 for an empty/new table or a missing
    * log directory).
    */
  def latestVersion(root: String): Long = {
    val d = logDir(root)
    if (Files.isDirectory(d)) graft.table.VersionedTable.latestVersion(d) else -1L
  }

  /** Parse versions [from, to] into history rows. */
  def commitRows(root: String, from: Long, to: Long): Iterator[InternalRow] =
    (math.max(0L, from) to to).iterator.map { v =>
      val c = graft.table.VersionedTable.commitAt(logDir(root), v)
      new GenericInternalRow(Array[Any](v, UTF8String.fromString(c.op), c.readVersion,
        c.adds.size, c.removes.size, c.adds.map(_.rows).sum, c.txn.getOrElse(null)))
    }
}

private[sources] class LogTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"graft_table_log($path)"
  override def schema(): StructType = TableLogSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LogScan(path)
}

private[sources] class LogScan(path: String) extends ScanBuilder with Scan {
  override def build(): Scan = this
  override def readSchema(): StructType = TableLogSource.Schema
  override def description(): String = s"graft-table-log $path"
  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      Array(LogRange(path, 0L, TableLogSource.latestVersion(path)))
    override def createReaderFactory(): PartitionReaderFactory = LogReaderFactory
  }
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new LogMicroBatchStream(path)
}

private[sources] case class LogRange(path: String, from: Long, to: Long)
  extends InputPartition

private[sources] object LogReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val LogRange(path, from, to) = partition: @unchecked
    val it = TableLogSource.commitRows(path, from, to)
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { current = it.next(); true } else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}

/** Offsets ARE commit versions: `latestOffset` is the table's latest
  * version, a batch covers `(start, end]`, and replaying a batch from a
  * checkpoint re-reads exactly the same immutable version files — the
  * log's append-only atomic publish is what makes the offset contract
  * trivially exactly-once.
  */
private[sources] case class VersionOffset(v: Long) extends Offset {
  override def json(): String = v.toString
}

private[sources] class LogMicroBatchStream(path: String) extends MicroBatchStream {
  override def initialOffset(): Offset = VersionOffset(-1L)
  override def latestOffset(): Offset =
    VersionOffset(TableLogSource.latestVersion(path))
  override def deserializeOffset(json: String): Offset =
    VersionOffset(json.toLong)
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[VersionOffset].v
    val e = end.asInstanceOf[VersionOffset].v
    if (e <= s) Array.empty else Array(LogRange(path, s + 1, e))
  }
  override def createReaderFactory(): PartitionReaderFactory = LogReaderFactory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
