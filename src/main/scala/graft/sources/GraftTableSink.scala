package graft.sources

import java.nio.file.{Files, Paths}
import java.util
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.table.VersionedTable

/** DataSource V2 WRITE connector for [[VersionedTable]] — the missing
  * half of the `graft-table-log` read connector: executors write
  * immutable parquet part files in parallel, the DRIVER publishes them
  * as ONE atomic transaction through the table's optimistic commit log.
  *
  *   df.write.format("graft-table").mode("append").save(root)      // txn append
  *   df.write.format("graft-table").mode("overwrite").save(root)   // txn replace
  *
  * This is the commit-coordination shape every lakehouse writer has
  * (Delta/Iceberg): per-task [[DataWriter]]s stream rows straight into
  * their own parquet file (no executor buffering of the partition),
  * `commit()` returns a message carrying (path, rows, min/max of the
  * table's stats column — gathered in the SAME pass that wrote the
  * rows, so file-skipping stats cost nothing extra), speculative or
  * failed tasks `abort()` by deleting their file (an uncommitted file
  * is invisible by construction — only the log makes data exist), and
  * the driver-side [[BatchWrite.commit]] validates CHECK constraints
  * against the staged files and publishes every surviving file in one
  * log entry, retrying through [[graft.table.CommitConflictException]]
  * like the programmatic append path (append is conflict-free by
  * construction; overwrite PROPAGATES the conflict, matching
  * `VersionedTable.overwrite`).
  *
  * The parquet files are written with parquet-mr's example writer
  * (standard parquet, read back by Spark's vectorized reader) over an
  * explicit logical-type mapping below; unsupported Catalyst types fail
  * loudly at write-build time, not mid-task. Schema evolution stays on
  * the programmatic API: the V2 write resolves the incoming frame
  * against the table's logged schema (Spark's TableOutputResolver), so
  * a connector write can never silently narrow or reorder the table.
  */
class GraftTableSink extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-table"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val root = options.get("path")
    require(root != null && root.nonEmpty,
      "graft-table requires a path (the VersionedTable root)")
    val t = VersionedTable.open(root)
    t.schemaOf(t.latestVersion).getOrElse(throw new IllegalArgumentException(
      s"table at $root logs no schema; create it via VersionedTable.create " +
        "before writing through the connector"))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val root = properties.get("path")
    require(root != null && root.nonEmpty,
      "graft-table requires a path (the VersionedTable root)")
    new GraftWritableTable(root, schema)
  }
}

private[sources] class GraftWritableTable(root: String, tblSchema: StructType)
    extends Table with SupportsWrite {
  // no backticks/dots: Spark re-parses this name as an attribute when
  // rendering write-resolution errors
  override def name(): String = "graft_table_" +
    root.replaceAll("[^A-Za-z0-9_]", "_")
  override def schema(): StructType = tblSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(root, info.schema())
}

private[sources] class GraftWriteBuilder(root: String, schema: StructType)
    extends WriteBuilder with SupportsTruncate {
  private var replace = false
  override def truncate(): WriteBuilder = { replace = true; this }
  override def build(): Write = {
    GraftTableSink.parquetType(schema) // fail on unsupported types NOW
    new Write {
      override def toBatch: BatchWrite =
        new GraftBatchWrite(root, schema, replace)
    }
  }
}

/** One logical write = one staged batch directory + one log commit. */
private[sources] class GraftBatchWrite(root: String, schema: StructType,
                                       replace: Boolean) extends BatchWrite {
  private val batchRel = s"data/dsv2-${UUID.randomUUID()}"

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new GraftWriterFactory(root, batchRel, schema.json,
      VersionedTable.open(root).statsColumn.orNull)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val t = VersionedTable.open(root)
    val adds = messages.collect {
      case m: GraftFileCommitted if m.rows > 0 =>
        VersionedTable.AddEntry(m.rel, m.rows,
          if (m.hasStats) Some((m.statMin, m.statMax)) else None)
    }.toSeq
    if (adds.isEmpty && !replace) return // empty append publishes nothing
    // CHECK constraints validate the STAGED files (the same rows the
    // commit publishes), on the driver's session, before anything is
    // visible — mirroring the programmatic paths' validate-then-commit
    // order.
    val spark = SparkSession.active
    if (adds.nonEmpty)
      t.validateConstraints(
        spark.read.schema(schema)
          .parquet(adds.map(a => Paths.get(root).resolve(a.path).toString): _*),
        t.checkConstraints, if (replace) "overwrite" else "append")
    val op = if (replace) "overwrite" else "append"
    var attempt = 0
    while (true) {
      val rv = t.latestVersion
      val removes = if (replace) t.activeFiles(rv) else Nil
      try {
        t.commit(op, rv, adds, removes, schemaJson = Some(schema.json))
        return
      } catch {
        case e: graft.table.CommitConflictException =>
          // a replace that lost the race must NOT retry blindly — its
          // inputs may be stale (same contract as VersionedTable
          // .overwrite); a lost append is conflict-free and retries
          if (replace) throw e
          attempt += 1
          if (attempt > 5) throw e
      }
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    messages.foreach {
      case m: GraftFileCommitted =>
        Files.deleteIfExists(Paths.get(root).resolve(m.rel))
      case _ => ()
    }
    // staged batch dir (and any files whose task died before reporting)
    val d = Paths.get(root).resolve(batchRel)
    if (Files.isDirectory(d)) {
      val s = Files.list(d)
      try s.forEach(p => Files.deleteIfExists(p)) finally s.close()
      Files.deleteIfExists(d)
    }
  }
}

/** Serialized to executors; everything it carries is a plain string. */
private[sources] class GraftWriterFactory(root: String, batchRel: String,
                                          schemaJson: String,
                                          statsColOrNull: String)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int,
                            taskId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(root, batchRel,
      DataType.fromJson(schemaJson).asInstanceOf[StructType],
      Option(statsColOrNull), partitionId, taskId)
}

private[sources] case class GraftFileCommitted(
    rel: String, rows: Long, hasStats: Boolean,
    statMin: Long, statMax: Long) extends WriterCommitMessage

/** Streams one task's rows into one parquet file; no partition-sized
  * buffering. Task retries/speculation write DIFFERENT file names
  * (taskId in the name), and only the committed attempt's message
  * reaches the driver — the losing file dies in abort().
  */
private[sources] class GraftDataWriter(root: String, batchRel: String,
                                       schema: StructType,
                                       statsCol: Option[String],
                                       partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {

  private val rel = s"$batchRel/part-$partitionId-$taskId.parquet"
  private val pqType: MessageType = GraftTableSink.parquetType(schema)
  private val factory = new SimpleGroupFactory(pqType)
  private val writer = {
    Files.createDirectories(Paths.get(root).resolve(batchRel))
    ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(
        Paths.get(root).resolve(rel).toString))
      .withType(pqType)
      .withConf(new Configuration())
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
  }
  private var rows = 0L
  private val statIdx = statsCol.map(schema.fieldIndex)
  private var statMin = Long.MaxValue
  private var statMax = Long.MinValue
  private var statSeen = false

  override def write(row: InternalRow): Unit = {
    val g = factory.newGroup()
    var i = 0
    while (i < schema.length) {
      if (!row.isNullAt(i)) {
        val name = schema(i).name
        schema(i).dataType match {
          case BooleanType => g.add(name, row.getBoolean(i))
          case IntegerType | DateType => g.add(name, row.getInt(i))
          case LongType | TimestampType | TimestampNTZType =>
            g.add(name, row.getLong(i))
          case FloatType => g.add(name, row.getFloat(i))
          case DoubleType => g.add(name, row.getDouble(i))
          case StringType =>
            g.add(name, org.apache.parquet.io.api.Binary.fromConstantByteArray(
              row.getUTF8String(i).getBytes))
          case BinaryType =>
            g.add(name, org.apache.parquet.io.api.Binary.fromConstantByteArray(
              row.getBinary(i)))
          case dt => throw new IllegalStateException(
            s"unreachable: $dt passed parquetType validation")
        }
      }
      i += 1
    }
    statIdx.foreach { si =>
      if (!row.isNullAt(si)) {
        val v = schema(si).dataType match {
          case LongType => row.getLong(si)
          case IntegerType => row.getInt(si).toLong
          case dt => throw new IllegalArgumentException(
            s"stats column ${statsCol.get} must be integral, got $dt")
        }
        if (v < statMin) statMin = v
        if (v > statMax) statMax = v
        statSeen = true
      }
    }
    writer.write(g)
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    writer.close()
    if (rows == 0) Files.deleteIfExists(Paths.get(root).resolve(rel))
    GraftFileCommitted(rel, rows, statSeen, statMin, statMax)
  }

  override def abort(): Unit = {
    try writer.close() catch { case _: Throwable => () }
    Files.deleteIfExists(Paths.get(root).resolve(rel))
  }

  override def close(): Unit = ()
}

object GraftTableSink {

  /** Catalyst → parquet logical-type mapping for the writer. Explicit
    * and closed: anything outside it fails at write-BUILD time with the
    * type named, never mid-task. The annotations are what Spark's own
    * parquet writer emits, so readback types round-trip exactly
    * (string → UTF8, timestamp → INT64 micros with the NTZ bit carried
    * by isAdjustedToUTC, date → INT32 date).
    */
  def parquetType(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      val rep = if (f.nullable) Types.optional _ else Types.required _
      val prim = f.dataType match {
        case BooleanType => rep(PrimitiveTypeName.BOOLEAN)
        case IntegerType => rep(PrimitiveTypeName.INT32)
        case DateType =>
          rep(PrimitiveTypeName.INT32).as(LogicalTypeAnnotation.dateType())
        case LongType => rep(PrimitiveTypeName.INT64)
        case TimestampType => rep(PrimitiveTypeName.INT64)
          .as(LogicalTypeAnnotation.timestampType(true,
            LogicalTypeAnnotation.TimeUnit.MICROS))
        case TimestampNTZType => rep(PrimitiveTypeName.INT64)
          .as(LogicalTypeAnnotation.timestampType(false,
            LogicalTypeAnnotation.TimeUnit.MICROS))
        case FloatType => rep(PrimitiveTypeName.FLOAT)
        case DoubleType => rep(PrimitiveTypeName.DOUBLE)
        case StringType => rep(PrimitiveTypeName.BINARY)
          .as(LogicalTypeAnnotation.stringType())
        case BinaryType => rep(PrimitiveTypeName.BINARY)
        case dt => throw new IllegalArgumentException(
          s"graft-table writer does not support column `${f.name}` of " +
            s"type ${dt.simpleString}; supported: boolean, int, date, " +
            "bigint, timestamp, timestamp_ntz, float, double, string, binary")
      }
      b.addField(prim.named(f.name))
    }
    b.named("graft_table_row")
  }
}
