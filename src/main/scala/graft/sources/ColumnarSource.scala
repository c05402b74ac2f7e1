package graft.sources

import java.io.RandomAccessFile
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util
import java.util.UUID

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

/** `graft-columnar` — a self-contained COLUMNAR file format plus its
  * DataSource V2 read/write connector: the vectorization rung of the
  * extension ladder made concrete instead of taken on faith from
  * parquet (round-13 verdict item #4).
  *
  *   df.write.format("graft-columnar").mode("overwrite").save(dir)
  *   spark.read.format("graft-columnar").load(dir)
  *
  * What it demonstrates, each with a PlanGuardsSpec proof:
  *
  *   - '''ColumnarBatch reads''' — the `PartitionReaderFactory` reports
  *     `supportColumnarReads = true` and decodes straight into
  *     `OnHeapColumnVector`s, so the scan enters Spark's vectorized
  *     path (`BatchScanExec.supportsColumnar`, a `ColumnarToRow`
  *     bridge above it, whole-stage codegen consuming the vectors).
  *   - '''Column pruning''' (`SupportsPushDownRequiredColumns`) — the
  *     file layout is one contiguous encoded segment PER COLUMN per
  *     block, so a pruned column is never read from disk at all (the
  *     reader seeks past it), not decoded-then-dropped.
  *   - '''Filter pushdown''' (`SupportsPushDownFilters`) — the footer
  *     carries per-block zone maps (min/max/nullCount per column);
  *     accepted filters prune BLOCKS at `planInputPartitions` time, so
  *     a selective predicate shrinks the task list itself. Zone maps
  *     are block-granular, so every accepted filter is also returned
  *     as residual for Spark to re-apply exactly (the parquet min/max
  *     contract).
  *   - '''Statistics''' (`SupportsReportStatistics`) — post-pruning
  *     byte/row counts feed the optimizer's broadcast decision.
  *   - '''Aggregate pushdown''' (`SupportsPushDownAggregates`) —
  *     ungrouped COUNT/COUNT(col)/MIN/MAX are answered ENTIRELY from
  *     footers (one pre-aggregated row, zero blocks opened); filtered
  *     aggregates fall back to the block path.
  *   - '''Runtime filtering''' (`SupportsRuntimeFiltering`) — the DSv2
  *     dynamic-pruning surface: a selective join build side hands the
  *     scan `In(key, values)` at execution time and the block list
  *     replans (spec: engine-driven DPP keeps 1 of 100 blocks).
  *   - '''Limit / TopN pushdown''' (`SupportsPushDownLimit` /
  *     `SupportsPushDownTopN`) — a bare LIMIT caps planning at the
  *     first blocks; ORDER BY col LIMIT n excludes any block that
  *     provably cannot reach the top n (blocks whose max sits below
  *     its min already hold >= n rows). Both partial and filter-safe.
  *   - '''Snapshot commits''' — every write commits the next version
  *     of the snapshot log (GcolSnapshots), the one record of the
  *     table's live files: readers plan from the head, never from a
  *     directory listing, `asOf` reads an older version, and a failed
  *     write publishes nothing.
  *   - '''Micro-batch streaming''' — `readStream` with snapshot
  *     versions as offsets, exactly-once from a checkpoint.
  *
  * File layout (`*.gcol`, one file per write task, little-endian):
  * {{{
  *   [block 0][block 1]...[footer JSON][footerLen:int32][magic:int64]
  *   block  = per column (schema order): [null bitmap][payload]
  *   payload: int32/date 4B·n | int64/ts 8B·n | double 8B·n |
  *            boolean bitmap | string int32 offsets (n+1) + UTF-8 bytes
  * }}}
  * The footer records schema, block row counts and per-(block, column)
  * (offset, length, nullCount, min, max, encoding). Segments pick their
  * encoding AUTOMATICALLY and size-gated: low-cardinality strings
  * (<= 256 distinct) take a dictionary read back as a LAZY vector
  * dictionary (parquet's trick — ids fill the vector, bytes materialize
  * per consumed row), run-heavy int/long/date/timestamp columns take
  * RLE (one bulk `putInts/putLongs` per run), everything else stays the
  * plain byte-aligned memcpy layout. Zone maps are computed from VALUES
  * before encoding, so pruning is encoding-independent, and `codec`
  * compression composes on top of the encoded segment.
  *
  * Where that trade lands, MEASURED (paired interleaved runs vs
  * parquet on identical clustered lineitem, recorded in gcol_bench.json).
  * The first round of measurements exposed a real scale flaw — one
  * task per 16 384-row block billed ~0.3 s of pure scheduling to a
  * 367-block sf1 scan and lost the scan-everything shapes to parquet
  * — fixed by packing surviving blocks into split-sized tasks (the
  * FilePartition formula below). After the fix the uncompressed
  * format beats parquet on every measured shape at BOTH sf0.1 and sf1
  * (e.g. sf1 full-agg 0.23 vs 0.32 s, narrow 0.08 vs 0.17) at the
  * cost of 3.5× the bytes; `option("codec", "zstd"|"lz4")` adds
  * per-SEGMENT compression that lands at byte PARITY with
  * snappy-parquet while still beating it (sf0.1 full-agg 0.29 vs
  * 0.56). The pruning surfaces (zone maps, aggregates, topN, runtime
  * filters) remain the structural edge — a selective scan does ~2×
  * better than either format's raw decode because it never opens the
  * blocks at all.
  *
  * Scale shape: writers stream one bounded block (default 16 384 rows)
  * at a time — no partition-sized buffering; readers get one task per
  * surviving (file, block), so parallelism tracks data volume and a
  * selective filter cuts the stage's task count, not just its row
  * count. Footers are driver-read O(files) metadata, the same contract
  * as parquet footers.
  */
class ColumnarSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-columnar"

  // writes pass the frame's own schema (no pre-existing table needed)
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val dir = options.get("path")
    require(dir != null && dir.nonEmpty, "graft-columnar requires a path")
    // an asOf read resolves against the schema the SNAPSHOT was
    // committed under (time travel stays exact across later DDL);
    // otherwise evolved tables carry their CURRENT schema in
    // `_gcol_schema` and untouched tables read the head footer
    Option(options.get("asOf")).map(_.trim.toLong)
      .flatMap(v => GcolSnapshots.schemaState(dir, v).map(_._1))
      .getOrElse(ColumnarFormat.tableSchema(dir))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val dir = properties.get("path")
    require(dir != null && dir.nonEmpty, "graft-columnar requires a path")
    new GcolTable(dir, schema)
  }
}

private[sources] class GcolTable(dir: String, tblSchema: StructType,
                                 asOfTable: Option[Long] = None)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  /** Hidden METADATA COLUMNS (`SELECT _gcol_file, _gcol_block,
    * _gcol_pos` — the DSv2 surface Delta/Iceberg expose as `_metadata`):
    * provenance for audits and the row-ADDRESS a position-delete
    * implementation would key on. Synthesized by the reader per block —
    * zero bytes on disk.
    */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = {
    import org.apache.spark.sql.connector.catalog.MetadataColumn
    // a DATA column with a reserved name shadows the metadata column
    // (e.g. a position-delete sidecar stores addresses AS data) —
    // advertising both would make the reference ambiguous
    val all: Array[MetadataColumn] = Array(
      new MetadataColumn {
        override def name(): String = ColumnarFormat.MetaFile
        override def dataType(): DataType = StringType
        override def isNullable: Boolean = false
        override def comment(): String = "data file holding the row"
      },
      new MetadataColumn {
        override def name(): String = ColumnarFormat.MetaBlock
        override def dataType(): DataType = IntegerType
        override def isNullable: Boolean = false
        override def comment(): String = "block index within the file"
      },
      new MetadataColumn {
        override def name(): String = ColumnarFormat.MetaPos
        override def dataType(): DataType = IntegerType
        override def isNullable: Boolean = false
        override def comment(): String = "row position within the block"
      })
    all.filter(mc => !tblSchema.fieldNames.contains(mc.name()))
  }
  override def name(): String =
    "graft_columnar_" + dir.replaceAll("[^A-Za-z0-9_]", "_")
  override def schema(): StructType = tblSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ, TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GcolScanBuilder(dir, tblSchema,
      // `files`: comma-separated RELATIVE names restricting the scan to a
      // subset of the head snapshot's data files — the hook GcolRowOps uses
      // to rewrite ONLY the copy-on-write-affected files
      Option(options.get("files")).map(_.split(',').map(_.trim)
        .filter(_.nonEmpty).toSet),
      // `asOf`: TIME TRAVEL through the snapshot log (GcolSnapshots)
      // — plan any retained version's file set instead of the head;
      // the catalog's `VERSION AS OF` pins it at the table level
      Option(options.get("asOf")).map(_.trim.toLong).orElse(asOfTable))
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(asOfTable.isEmpty,
      "cannot write to a version-pinned (VERSION AS OF) gcol table")
    new GcolWriteBuilder(dir, info.schema(),
      Option(info.options.get("rowsPerBlock")).map(_.toInt)
        .getOrElse(ColumnarFormat.DefaultRowsPerBlock),
      Option(info.options.get("codec")).getOrElse("none"),
      Option(info.options.get("clusterBy")).filter(_.nonEmpty),
      Option(info.options.get("bloomFor")).map(_.split(',').map(_.trim)
        .filter(_.nonEmpty).toSet).getOrElse(Set.empty),
      // `bucketSpec` = "keyCol:N": declares the clusterBy column as
      // bucket(N, keyCol) so the scan can report a BUCKET transform
      // (storage-partitioned joins across tables of different sizes)
      Option(info.options.get("bucketSpec")).filter(_.nonEmpty).map { s =>
        val Array(k, n) = s.split(':')
        (k.trim, n.trim.toInt)
      })
  }
}

// ---------------------------------------------------------------------
// read path
// ---------------------------------------------------------------------

private[sources] class GcolScanBuilder(dir: String, full: StructType,
                                       filesOpt: Option[Set[String]] = None,
                                       asOf: Option[Long] = None)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN {

  private var required: StructType = full
  private var accepted: Array[Filter] = Array.empty
  private var pushedAgg: Option[Seq[ColumnarFormat.AggSpec]] = None

  private var metaCols: Seq[String] = Nil
  override def pruneColumns(requiredSchema: StructType): Unit =
    // preserve FILE column order; the reader decodes segments in file
    // order and the scan's readSchema must match what it emits.
    // Metadata columns (reserved _gcol_* names) are split off — they
    // are synthesized per block, never read from disk.
    if (pushedAgg.isEmpty) {
      required = StructType(
        full.fields.filter(f => requiredSchema.fieldNames.contains(f.name)))
      metaCols = ColumnarFormat.MetaNames
        .filter(n => requiredSchema.fieldNames.contains(n) &&
          !full.fieldNames.contains(n)) // data columns shadow metadata
    }

  /** Accept filters the zone maps can evaluate; everything is returned
    * as residual because block skipping is approximate by granularity.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    accepted = filters.filter(ColumnarFormat.supportedFilter(full, _))
    filters // all residual — Spark re-applies exactly above the scan
  }
  override def pushedFilters(): Array[Filter] = accepted

  /** LIMIT pushdown: an unfiltered, unordered LIMIT n needs at most
    * the first ceil(n / rowsPerBlock) blocks — planning stops adding
    * blocks once the kept row count reaches the limit. Spark still
    * applies the exact LIMIT above (partial pushdown contract), so
    * over-delivery by block granularity is sound. With filters the
    * pushdown still helps: kept blocks COULD all fail the residual
    * filter, but Spark's own GlobalLimit sits above a LocalLimit that
    * early-outs, and the scan's block cap is an upper bound on IO, so
    * this stays an optimization, never a correctness lever — except
    * that a filtered limit may need MORE blocks than n rows' worth, so
    * the cap only applies when NO filters were accepted.
    */
  private var limit: Option[Int] = None
  override def pushLimit(n: Int): Boolean = {
    if (accepted.isEmpty && pushedAgg.isEmpty) { limit = Some(n); true }
    else false
  }
  // partial: block granularity over-delivers; Spark keeps its exact
  // LIMIT above the scan
  override def isPartiallyPushed(): Boolean = true

  /** TopN pushdown (ORDER BY col LIMIT n): zone maps give a SOUND
    * block-exclusion criterion — for ascending order, block B cannot
    * hold any of the n smallest rows iff the blocks whose max is
    * STRICTLY below B's min already hold ≥ n rows (each such row is
    * strictly smaller than every row of B, ties included). Descending
    * is symmetric. Applied only when the sort column is null-free in
    * every block (checked from footers at plan time — nulls sort
    * outside the min/max range) and no filters were pushed. Partial:
    * Spark keeps its exact TopN above the scan.
    */
  private var topN: Option[(String, Boolean, Int)] = None
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection}
    if (accepted.nonEmpty || pushedAgg.nonEmpty || orders.length != 1)
      return false
    orders(0).expression() match {
      case nr: NamedReference if nr.fieldNames().length == 1 =>
        val name = nr.fieldNames()(0)
        val ok = full.fields.find(_.name == name).exists(_.dataType match {
          case IntegerType | LongType | DoubleType | StringType => true
          case _ => false
        })
        if (!ok) return false
        topN = Some((name,
          orders(0).direction() == SortDirection.ASCENDING, n))
        true
      case _ => false
    }
  }

  /** Metadata-only aggregates: ungrouped COUNT(*), COUNT(col),
    * MIN/MAX(col) are exact footer algebra (row counts, null counts,
    * zone maps) — answering them reads ZERO data blocks. Partial
    * pushdown contract: the scan emits one pre-aggregated row and
    * Spark's final aggregate merges (so empty tables and type
    * coercions follow engine semantics). Spark only attempts this
    * when no post-scan filters remain, and every filter here is
    * residual by design — so an aggregate with any WHERE clause
    * automatically takes the normal block-reading path (footer values
    * cannot see row-level predicates).
    */
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.aggregate._
    import org.apache.spark.sql.connector.expressions.NamedReference
    if (accepted.nonEmpty || agg.groupByExpressions().nonEmpty) return false
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[StructField] =
      e match {
        case nr: NamedReference if nr.fieldNames().length == 1 =>
          full.fields.find(_.name == nr.fieldNames()(0))
        case _ => None
      }
    def zoneMapped(f: StructField): Boolean = f.dataType match {
      case IntegerType | DateType | LongType | TimestampType |
           TimestampNTZType | DoubleType | StringType => true
      case _ => false
    }
    val specs = agg.aggregateExpressions().map {
      case _: CountStar => Some(ColumnarFormat.AggCountStar)
      case c: Count if !c.isDistinct =>
        colOf(c.column()).map(f => ColumnarFormat.AggCount(f.name))
      case m: Min =>
        colOf(m.column()).filter(zoneMapped)
          .map(f => ColumnarFormat.AggMin(f.name, f.dataType))
      case m: Max =>
        colOf(m.column()).filter(zoneMapped)
          .map(f => ColumnarFormat.AggMax(f.name, f.dataType))
      case _ => None
    }
    if (specs.exists(_.isEmpty)) return false
    // MIN/MAX are only answerable when EVERY block carries a zone map
    // for the column (or is provably all-null): a NaN-bearing double
    // segment writes no min/max, and skipping its values would return
    // a wrong extremum. Footer reads here are driver-scale metadata —
    // the same O(files) cost planInputPartitions pays anyway.
    val mmCols = specs.flatten.collect {
      case ColumnarFormat.AggMin(c, _) => c
      case ColumnarFormat.AggMax(c, _) => c
    }.distinct
    if (mmCols.nonEmpty) {
      val lin = ColumnarFormat.lineage(dir)
      val evolved = ColumnarFormat.readSchemaState(dir).isDefined
      val answerable = ColumnarFormat.scopedFiles(dir, filesOpt, asOf).forall { f =>
        val ft = ColumnarFormat.readFooter(f)
        mmCols.forall { c =>
          ColumnarFormat.resolveName(ft.schema, c, lin)
            .flatMap(n => ColumnarFormat.fieldIdx(ft.schema, n)) match {
            case Some(i) => ft.blocks.forall(b =>
              b.cols(i).min.isDefined || b.cols(i).nullCount == b.rows)
            // on an EVOLVED table the column postdates this file:
            // provably all-null, contributes no extremum; without DDL a
            // missing column is corruption — refuse the pushdown and
            // let the block path fail loudly
            case None => evolved
          }
        }
      }
      if (!answerable) return false
    }
    pushedAgg = Some(specs.flatten.toSeq)
    required = ColumnarFormat.aggSchema(specs.flatten.toSeq)
    true
  }

  override def build(): Scan =
    new GcolScan(dir, required, accepted, pushedAgg, limit, topN, filesOpt,
      metaCols, asOf)
}

// public (not private[sources]): plan guards in other packages downcast
// BatchScanExec.scan to reach the skip counters
class GcolScan private[sources] (
    dir: String, required: StructType, filters: Array[Filter],
    aggSpecs: Option[Seq[ColumnarFormat.AggSpec]] = None,
    limit: Option[Int] = None,
    topN: Option[(String, Boolean, Int)] = None,
    filesOpt: Option[Set[String]] = None,
    metaCols: Seq[String] = Nil,
    asOf: Option[Long] = None)
    extends Scan with Batch with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  // spec observability: how many blocks the zone maps let through
  @volatile var plannedBlocks: Int = -1
  @volatile var totalBlocks: Int = -1

  /** The scan's file universe, SNAPSHOTTED once per scan: keyGroups
    * (logical planning) freezes the partition skeleton from this list
    * and planInputPartitions (physical, possibly replanned after
    * runtime filters) must see the SAME files — re-listing there could
    * group a concurrently-appended file under a cluster key the frozen
    * skeleton never visits and silently drop its blocks (r15 ADVICE).
    */
  private lazy val scanFiles: Seq[Path] =
    ColumnarFormat.scopedFiles(dir, filesOpt, asOf)

  /** Rename lineage + DDL flag the scan resolves against: the
    * snapshot's COMMIT-TIME state for asOf reads (time travel exact
    * across later DDL), the current `_gcol_schema` otherwise. The flag
    * gates the missing-column null-vector path — without DDL, a
    * missing column is corruption, not evolution.
    */
  private lazy val (lin: Map[String, Seq[String]], evolved: Boolean) =
    asOf.flatMap(v => GcolSnapshots.schemaState(dir, v))
      .map { case (_, formers, e) => (formers, e) }
      .getOrElse((ColumnarFormat.lineage(dir),
        ColumnarFormat.readSchemaState(dir).isDefined))
  def pushedAccepted: Array[Filter] = filters
  def aggregated: Boolean = aggSpecs.nonEmpty

  /** Runtime (join-driven) filters — the DSv2 dynamic-pruning surface:
    * when a selective build side finishes, Spark hands the scan an
    * `In(col, values)` over any attribute advertised here and replans
    * partitions, so the probe side's BLOCK list shrinks to the keys
    * that actually exist (zone-map evaluation is value-exact for In).
    * Advertise every zone-mapped read column; unsupported shapes are
    * ignored (block planning just keeps everything — always sound).
    */
  @volatile private var runtimeFilters: Array[Filter] = Array.empty
  def runtimeApplied: Array[Filter] = runtimeFilters

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    required.fields.filter(f => f.dataType match {
      case IntegerType | LongType | DoubleType | StringType => true
      case _ => false
    }).map(f => org.apache.spark.sql.connector.expressions.Expressions.column(f.name))

  override def filter(fs: Array[Filter]): Unit =
    runtimeFilters = fs.filter(ColumnarFormat.supportedFilter(required, _))

  override def readSchema(): StructType =
    StructType(required.fields ++ metaCols.map(ColumnarFormat.metaField))
  override def description(): String =
    s"graft-columnar $dir PushedFilters: [${filters.mkString(", ")}], " +
      aggSpecs.fold("")(a => s"PushedAggregates: [${a.mkString(", ")}], ") +
      s"ReadSchema: ${required.catalogString}"
  override def toBatch: Batch = this

  private lazy val plannedAgg: GcolAggPartition = {
    // driver-side footer algebra: O(files) metadata reads, zero block
    // IO — the values the scan's single row will carry
    val specs = aggSpecs.get
    var countStar = 0L
    val counts = scala.collection.mutable.Map.empty[String, Long]
    val mins = scala.collection.mutable.Map.empty[String, Any]
    val maxs = scala.collection.mutable.Map.empty[String, Any]
    def better(cur: Option[Any], cand: Any, dt: DataType,
               wantMin: Boolean): Any = cur match {
      case None => cand
      case Some(c) =>
        val cmp = dt match {
          case IntegerType | DateType =>
            Integer.compare(c.asInstanceOf[Int], cand.asInstanceOf[Int])
          case LongType | TimestampType | TimestampNTZType =>
            java.lang.Long.compare(c.asInstanceOf[Long], cand.asInstanceOf[Long])
          case DoubleType =>
            java.lang.Double.compare(c.asInstanceOf[Double], cand.asInstanceOf[Double])
          case StringType =>
            UTF8String.fromString(c.asInstanceOf[String])
              .compareTo(UTF8String.fromString(cand.asInstanceOf[String]))
          case _ => 0
        }
        if ((wantMin && cmp <= 0) || (!wantMin && cmp >= 0)) c else cand
    }
    scanFiles.foreach { f =>
      val footer = ColumnarFormat.readFooter(f)
      // lineage-aware: a renamed column's stats live under its file-
      // local name; a column ADDED after this file was written is
      // all-null here, so it contributes nothing (count 0, no extrema).
      // Missing WITHOUT evolution = corruption, loud (blockDesc rule)
      def idxOf(c: String): Option[Int] = {
        val o = ColumnarFormat.resolveName(footer.schema, c, lin)
          .flatMap(n => ColumnarFormat.fieldIdx(footer.schema, n))
        require(o.isDefined || evolved,
          s"$f lacks aggregated column $c and the table has no " +
            "_gcol_schema declaring it as a later addition")
        o
      }
      footer.blocks.foreach { blk =>
        countStar += blk.rows
        specs.foreach {
          case ColumnarFormat.AggCount(c) =>
            idxOf(c).foreach { i =>
              counts(c) = counts.getOrElse(c, 0L) +
                (blk.rows - blk.cols(i).nullCount)
            }
          case ColumnarFormat.AggMin(c, dt) =>
            idxOf(c).foreach(i => blk.cols(i).min.foreach(v =>
              mins(c) = better(mins.get(c), v, dt, wantMin = true)))
          case ColumnarFormat.AggMax(c, dt) =>
            idxOf(c).foreach(i => blk.cols(i).max.foreach(v =>
              maxs(c) = better(maxs.get(c), v, dt, wantMin = false)))
          case ColumnarFormat.AggCountStar => ()
        }
      }
    }
    val values: Seq[Any] = specs.map {
      case ColumnarFormat.AggCountStar => countStar
      case ColumnarFormat.AggCount(c) => counts.getOrElse(c, 0L)
      case ColumnarFormat.AggMin(c, _) => mins.get(c).orNull
      case ColumnarFormat.AggMax(c, _) => maxs.get(c).orNull
    }
    plannedBlocks = 0
    totalBlocks = 0
    GcolAggPartition(values.toArray, required.json)
  }

  /** Key-grouped layout, detected ONCE per scan and frozen: Some(col,
    * type, sorted distinct values) when every file footer declares the
    * same `clusterBy` column, the column is in the read schema, and
    * EVERY block is pure on it (min == max, no nulls — the clustered
    * write path's invariant). The frozen value list is what keeps
    * `outputPartitioning()` (logical planning) and
    * `planInputPartitions()` (physical, possibly after runtime filters
    * arrive) consistent: the partition SKELETON never changes, only
    * which blocks sit inside each group.
    */
  /** A detected key-grouped layout: the cluster column's CURRENT table
    * name, its value type, the frozen sorted distinct values, the
    * partition transform the scan reports, and whether that transform
    * is the identity (bucket layouts report `bucket(N, key)` instead —
    * resolvable only through GcolCatalog's FunctionCatalog).
    */
  private case class KeyLayout(
      clusterCol: String, dt: DataType, vals: Array[Any],
      transform: org.apache.spark.sql.connector.expressions.Transform,
      identity: Boolean)

  private lazy val keyGroups: Option[KeyLayout] = {
    if (aggSpecs.nonEmpty || limit.nonEmpty || topN.nonEmpty) None
    else {
      val files = scanFiles
      if (files.isEmpty) None
      else {
        val footers = files.map(ColumnarFormat.readFooter)
        // footers carry the FILE-LOCAL cluster name; map each through
        // the rename lineage to its current table name, so a renamed
        // cluster column keeps its storage-partitioned layout
        val currentOf: Map[String, String] = lin.flatMap {
          case (cur, olds) => olds.map(_ -> cur)
        }
        def pureVals(c0: Option[String]): Option[(DataType, Array[Any])] =
          c0.flatMap { _ =>
            val hi = footers.head.schema.fieldIndex(footers.head.clusterBy.get)
            val dt = footers.head.schema.fields(hi).dataType
            val vals = scala.collection.mutable.LinkedHashSet.empty[Any]
            val pure = footers.forall { ft =>
              ColumnarFormat.fieldIdx(ft.schema, ft.clusterBy.get).exists { i =>
                ft.blocks.forall { b =>
                  val cm = b.cols(i)
                  val ok = cm.nullCount == 0 && cm.min.isDefined &&
                    cm.min == cm.max
                  if (ok) vals += cm.min.get
                  ok
                }
              }
            }
            if (pure)
              Some((dt, vals.toArray.sorted(ColumnarFormat.anyOrdering(dt))))
            else None
          }
        val cCur = footers.head.clusterBy.map(n => currentOf.getOrElse(n, n))
          .filter(c => footers.forall(_.clusterBy
            .map(n => currentOf.getOrElse(n, n)).contains(c)))
        // BUCKET layout: every footer declares the same bucketSpec — the
        // cluster column is bucket(N, key), so the scan reports that
        // TRANSFORM of the key instead of identity of the bucket id.
        // The key (not the id) must be in the read schema; the id
        // column itself need not be projected at all. Differently-sized
        // tables bucketed at the same N co-partition on the key — the
        // case identity clustering cannot express (its value sets
        // differ). The transform resolves through a FunctionCatalog, so
        // bucket SPJ needs the table read via GcolCatalog; a plain
        // format("graft-columnar") read leaves it unresolved and Spark
        // falls back to a normal shuffle plan (sound, just unoptimized).
        // each footer's spec maps through the rename lineage BEFORE the
        // consistency check — files written pre- and post-rename of the
        // bucket key agree on the CURRENT name and keep the layout
        def curSpec(ft: ColumnarFormat.Footer): Option[(String, Int)] =
          ft.bucketSpec.map { case (k, n) => (currentOf.getOrElse(k, k), n) }
        val bucket = curSpec(footers.head)
          .filter(bs => footers.forall(curSpec(_).contains(bs)))
          .filter { case (k, _) => required.fieldNames.contains(k) }
        (cCur, bucket) match {
          case (Some(c), Some((k, n))) =>
            pureVals(cCur).collect {
              case (dt, vals)
                  if dt == IntegerType &&
                    vals.forall(v => v.asInstanceOf[Int] >= 0 &&
                      v.asInstanceOf[Int] < n) =>
                KeyLayout(c, dt, vals,
                  org.apache.spark.sql.connector.expressions.Expressions
                    .bucket(n, k),
                  identity = false)
            }
          case (Some(c), None) if required.fieldNames.contains(c) =>
            pureVals(cCur).map { case (dt, vals) =>
              KeyLayout(c, dt, vals,
                org.apache.spark.sql.connector.expressions.Expressions
                  .identity(c),
                identity = true)
            }
          case _ => None
        }
      }
    }
  }

  /** Storage-partitioned reads: a clustered table reports
    * `KeyGroupedPartitioning(identity(col), #groups)` so a gcol⋈gcol
    * join on the cluster key (plus a groupBy on it) elides its
    * exchanges entirely — Spark aligns both sides' partition VALUES
    * (`spark.sql.sources.v2.bucketing.enabled`) instead of shuffling
    * 100 TB to co-locate what the layout already co-located.
    */
  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning =
    keyGroups match {
      case Some(kl) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(kl.transform), kl.vals.length)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  /** Every key-grouped partition holds a single cluster value, so rows
    * are trivially sorted by it — reporting the ordering lets a
    * sort-merge join skip its per-partition sorts on that column.
    */
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    keyGroups match {
      // identity layouts only: a bucket partition holds ONE bucket id
      // but its key values are arbitrary, so no ordering is truthful
      case Some(kl) if kl.identity =>
        import org.apache.spark.sql.connector.expressions.{Expressions, NullOrdering, SortDirection}
        Array(Expressions.sort(Expressions.column(kl.clusterCol),
          SortDirection.ASCENDING, NullOrdering.NULLS_FIRST))
      case _ => Array.empty
    }

  // a def, not a lazy val: runtime filters can arrive AFTER statistics
  // were estimated, and the replan must see them (footer reads are
  // driver-scale metadata, cheap to repeat)
  private def planned: Array[GcolReadPartition] = {
    val effective = filters ++ runtimeFilters
    // a pushed LIMIT caps planning at the first ceil(n/blockRows)
    // blocks — but never when runtime filters arrived (they prune
    // among the capped blocks and could under-deliver the limit)
    val cap = if (runtimeFilters.isEmpty) limit else None
    val grouping = keyGroups
    val all = scala.collection.mutable.ArrayBuffer.empty[GcolBlockDesc]
    val keyOf = scala.collection.mutable.AnyRefMap.empty[GcolBlockDesc, Any]
    var total = 0
    var kept = 0L
    scanFiles.foreach { f =>
      lazy val footer = ColumnarFormat.readFooter(f)
      if (cap.forall(kept < _)) {
        // push the filters through the rename lineage into this file's
        // LOCAL names so a renamed column's zone maps (and blooms)
        // still prune; a column the file never had keeps its table
        // name and mayMatch's missing-column path keeps the block
        // (its synthesized null vector feeds the residual filter)
        val localName: Map[String, String] = required.fields.flatMap(r =>
          ColumnarFormat.resolveName(footer.schema, r.name, lin)
            .filter(_ != r.name).map(r.name -> _)).toMap
        val localFilters =
          if (localName.isEmpty) effective
          else effective.map(ColumnarFormat.renameFilter(_, localName))
        var blkIdx = -1
        footer.blocks.foreach { blk =>
          blkIdx += 1
          total += 1
          if (cap.forall(kept < _) &&
              localFilters.forall(ColumnarFormat.mayMatch(footer.schema, blk, _))) {
            val desc =
              ColumnarFormat.blockDesc(f, footer, blk, blkIdx, required, lin,
                evolved)
            all += desc
            grouping.foreach { kl =>
              val c = kl.clusterCol
              val ci = footer.schema.fieldIndex(
                ColumnarFormat.resolveName(footer.schema, c, lin).getOrElse(c))
              keyOf(desc) = blk.cols(ci).min.get
            }
            kept += blk.rows
          }
        }
      }
    }
    val out = topN match {
      case Some((colName, asc, n))
          if runtimeFilters.isEmpty && filters.isEmpty =>
        ColumnarFormat.topNPrune(scanFiles, all.toArray, colName, asc, n)
      case _ => all.toArray
    }
    totalBlocks = total
    plannedBlocks = out.length
    grouping match {
      case Some(KeyLayout(_, dt, vals, _, _)) =>
        // partitions per FROZEN cluster value, in frozen order — a key
        // whose blocks were all pruned (statically or by a runtime
        // filter) still yields an (empty) partition, so the reported
        // KeyGroupedPartitioning stays valid while the IO savings are
        // fully kept. A HOT key's blocks additionally split into
        // split-size packs that share the partition key: Spark groups
        // same-key partitions itself (v2 bucketing, default-on in
        // Spark 4) for joins, while scans/aggregates get task sizes
        // bounded by maxPartitionBytes instead of by the skew.
        val conf = org.apache.spark.sql.internal.SQLConf.get
        val byKey = out.groupBy(keyOf(_))
        // scanFiles is snapshotted, so every block's key is in the
        // frozen skeleton by construction — fail LOUDLY rather than
        // drop rows if that invariant is ever broken
        val unknown = byKey.keySet.diff(vals.toSet)
        require(unknown.isEmpty,
          s"gcol key-grouped scan: cluster values $unknown appeared " +
            "after the partition skeleton froze (concurrent append?)")
        vals.flatMap { v =>
          val blocks = byKey.getOrElse(v, Array.empty[GcolBlockDesc])
          val target = math.max(conf.filesOpenCostInBytes,
            conf.filesMaxPartitionBytes)
          val packs = scala.collection.mutable.ArrayBuffer.empty[GcolReadPartition]
          val cur = scala.collection.mutable.ArrayBuffer.empty[GcolBlockDesc]
          var curBytes = 0L
          blocks.foreach { d =>
            if (cur.nonEmpty && curBytes + d.lens.sum > target) {
              packs += GcolKeyedPartition(cur.toArray, readSchema().json,
                v, dt, metaCols.length)
              cur.clear(); curBytes = 0L
            }
            cur += d; curBytes += d.lens.sum
          }
          packs += GcolKeyedPartition(cur.toArray, readSchema().json,
            v, dt, metaCols.length)
          packs
        }
      case None =>
        // pack blocks into split-sized tasks, Spark's own file-source
        // formula: honor maxPartitionBytes but never plan fewer tasks
        // than the default parallelism can use
        val conf = org.apache.spark.sql.internal.SQLConf.get
        val totalBytes = out.map(_.lens.sum).sum
        val parallelism = math.max(1,
          org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism)
        val target = math.max(conf.filesOpenCostInBytes,
          math.min(conf.filesMaxPartitionBytes, totalBytes / parallelism + 1))
        val packs = scala.collection.mutable.ArrayBuffer.empty[GcolReadPartition]
        val cur = scala.collection.mutable.ArrayBuffer.empty[GcolBlockDesc]
        var curBytes = 0L
        out.foreach { d =>
          if (cur.nonEmpty && curBytes + d.lens.sum > target) {
            packs += GcolBlockPartition(cur.toArray, readSchema().json,
              metaCols.length)
            cur.clear(); curBytes = 0L
          }
          cur += d; curBytes += d.lens.sum
        }
        if (cur.nonEmpty)
          packs += GcolBlockPartition(cur.toArray, readSchema().json,
            metaCols.length)
        packs.toArray
    }
  }

  override def planInputPartitions(): Array[InputPartition] =
    if (aggregated) Array(plannedAgg)
    else planned.toArray[InputPartition]

  override def createReaderFactory(): PartitionReaderFactory =
    GcolReaderFactory

  /** Streaming surface: offsets are snapshot versions (GcolSnapshots),
    * so a batch (s, e] reads the files versions s+1..e added — immutable
    * files, so replay from a checkpoint is exactly-once, the
    * TableLogSource contract. The stream prunes each batch's blocks with
    * whatever filters the ScanBuilder received — but Spark 4 applies V2
    * pushdown to BATCH relations only, so today that array is empty on
    * the streaming path and filtering runs above the scan (behavior
    * pinned in ColumnarSourceSpec so an engine upgrade that starts
    * pushing gets noticed and the zone maps light up for free).
    */
  override def toMicroBatchStream(
      checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GcolMicroBatchStream(dir, required, filters)

  override def estimateStatistics(): Statistics = new Statistics {
    private val snap =
      if (aggregated) Array.empty[GcolBlockDesc]
      else planned.flatMap(_.blocks)
    private val rows = if (aggregated) 1L else snap.map(_.rows.toLong).sum
    private val bytes = if (aggregated) 64L else snap.map(_.lens.sum).sum
    override def sizeInBytes(): util.OptionalLong =
      util.OptionalLong.of(math.max(bytes, 1L))
    override def numRows(): util.OptionalLong = util.OptionalLong.of(rows)
  }
}

/** One surviving (file, block): byte ranges of the REQUIRED columns only,
  * in readSchema order. Everything here is a plain serializable value.
  */
/** One surviving block's byte ranges (required columns, readSchema
  * order) — the decode unit.
  */
private[sources] case class GcolBlockDesc(
    path: String, rows: Int,
    offs: Array[Long], lens: Array[Long], rawLens: Array[Long],
    codec: String, encs: Array[String] = Array.empty,
    blockIdx: Int = -1) {
  def encOf(i: Int): String = if (i < encs.length) encs(i) else "plain"
}

/** Common shape of a data-reading task: a pack of blocks plus the read
  * schema. The reader emits one ColumnarBatch per block.
  */
private[sources] sealed trait GcolReadPartition extends InputPartition {
  def blocks: Array[GcolBlockDesc]
  def readSchemaJson: String
  /** How many TRAILING fields of the read schema are synthesized
    * metadata — by COUNT, not by name: a data column may legitimately
    * carry a reserved name (a position-delete sidecar stores addresses
    * as data) and must be read from disk, not synthesized.
    */
  def nMeta: Int
}

/** One TASK = a pack of surviving blocks up to the split-size target —
  * task count tracks data volume (Spark's FilePartition discipline),
  * never raw block count (round 14, gcol_bench.json: one-task-per-16k-row-
  * block billed ~0.3 s of pure scheduling to a 367-block sf1 scan).
  */
private[sources] case class GcolBlockPartition(
    blocks: Array[GcolBlockDesc],
    readSchemaJson: String,
    nMeta: Int = 0) extends GcolReadPartition

/** One TASK = every surviving block of ONE cluster value; carries that
  * value as its `HasPartitionKey` so Spark's storage-partitioned join
  * can align both sides' groups without an exchange. Partition-per-key
  * (not split-size packs) is the KeyGroupedPartitioning contract; a
  * pathologically hot key therefore makes a big task — the documented
  * trade, same as any bucketed layout with skew.
  */
private[sources] case class GcolKeyedPartition(
    blocks: Array[GcolBlockDesc],
    readSchemaJson: String,
    keyValue: Any, keyType: DataType,
    nMeta: Int = 0)
    extends GcolReadPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](keyValue match {
        case s: String => UTF8String.fromString(s)
        case other => other
      }))
}

/** One pre-aggregated row computed from footers on the driver; values
  * are plain JVM types (String for text) so the partition serializes.
  */
private[sources] case class GcolAggPartition(
    values: Array[Any], schemaJson: String) extends InputPartition

private[sources] object GcolReaderFactory extends PartitionReaderFactory {
  override def supportColumnarReads(partition: InputPartition): Boolean =
    partition.isInstanceOf[GcolReadPartition]

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case agg: GcolAggPartition =>
        new PartitionReader[InternalRow] {
          private var emitted = false
          override def next(): Boolean =
            if (emitted) false else { emitted = true; true }
          override def get(): InternalRow =
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              agg.values.map {
                case s: String => UTF8String.fromString(s)
                case other => other
              })
          override def close(): Unit = ()
        }
      case _ => throw new UnsupportedOperationException(
        "graft-columnar data blocks are columnar-only")
    }

  override def createColumnarReader(
      p: InputPartition): PartitionReader[ColumnarBatch] = {
    val part = p.asInstanceOf[GcolReadPartition]
    val schema = DataType.fromJson(part.readSchemaJson)
      .asInstanceOf[StructType]
    new PartitionReader[ColumnarBatch] {
      private var i = 0
      private var batch: ColumnarBatch = _
      override def next(): Boolean = {
        if (batch != null) { batch.close(); batch = null }
        if (i >= part.blocks.length) false
        else {
          batch = ColumnarFormat.decodeBlock(part.blocks(i), schema, part.nMeta)
          i += 1
          true
        }
      }
      override def get(): ColumnarBatch = batch
      override def close(): Unit = if (batch != null) batch.close()
    }
  }
}

// ---------------------------------------------------------------------
// write path
// ---------------------------------------------------------------------

private[sources] class GcolWriteBuilder(dir: String, schema: StructType,
                                        rowsPerBlock: Int, codec: String,
                                        clusterBy: Option[String] = None,
                                        bloomFor: Set[String] = Set.empty,
                                        bucketSpec: Option[(String, Int)] = None)
    extends WriteBuilder with SupportsTruncate {
  private var replace = false
  override def truncate(): WriteBuilder = { replace = true; this }
  override def build(): Write = {
    schema.fields.foreach(f => ColumnarFormat.checkType(f)) // fail NOW
    ColumnarFormat.checkCodec(codec)
    clusterBy.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"clusterBy column `$c` not in write schema")
    }
    bucketSpec.foreach { case (k, n) =>
      require(clusterBy.nonEmpty,
        "bucketSpec requires clusterBy (the materialized bucket-id column)")
      require(n > 0, s"bucketSpec bucket count must be positive, got $n")
      require(schema.fieldNames.contains(k),
        s"bucketSpec key column `$k` not in write schema")
      val kt = schema.fields(schema.fieldIndex(k)).dataType
      require(kt == IntegerType || kt == LongType,
        s"bucketSpec key must be int/bigint, `$k` is ${kt.simpleString}")
      val ct = schema.fields(schema.fieldIndex(clusterBy.get)).dataType
      require(ct == IntegerType,
        s"the bucket-id column `${clusterBy.get}` must be int, is " +
          ct.simpleString)
    }
    bloomFor.foreach { c =>
      val f = schema.fields.find(_.name == c)
      require(f.nonEmpty, s"bloomFor column `$c` not in write schema")
      require(f.get.dataType match {
        case IntegerType | DateType | LongType | TimestampType |
             TimestampNTZType | StringType => true
        case _ => false
      }, s"bloomFor supports int/date/long/timestamp/string, `$c` is " +
        f.get.dataType.simpleString)
    }
    /** A clustered write asks the ENGINE for its layout guarantee:
      * `RequiresDistributionAndOrdering` makes Spark shuffle on the
      * cluster column and sort within each task before any row reaches
      * a writer, so one cluster value never straddles two tasks and
      * arrives contiguously inside each — the writer then only has to
      * cut blocks at value boundaries to make every block PURE
      * (min == max). That purity is what the read side turns into
      * `KeyGroupedPartitioning` (storage-partitioned joins, zero
      * exchanges). Same contract as Iceberg's write distribution.
      */
    new Write with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
      import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
      import org.apache.spark.sql.connector.expressions.{Expressions, NullOrdering, SortDirection, SortOrder}
      override def requiredDistribution(): Distribution =
        clusterBy.fold[Distribution](Distributions.unspecified())(c =>
          Distributions.clustered(Array(Expressions.column(c))))
      override def requiredOrdering(): Array[SortOrder] =
        clusterBy.fold(Array.empty[SortOrder])(c => Array(
          Expressions.sort(Expressions.column(c),
            SortDirection.ASCENDING, NullOrdering.NULLS_FIRST)))
      override def toBatch: BatchWrite =
        new GcolBatchWrite(dir, schema, rowsPerBlock, replace, codec,
          clusterBy, bloomFor, bucketSpec)
    }
  }
}

/** Tasks stream into a staging subdir; on commit the driver MOVES the
  * survivors into the root and commits the next snapshot (GcolSnapshots)
  * naming them, so a failed job or a failed commit publishes nothing.
  */
private[sources] class GcolBatchWrite(dir: String, schema: StructType,
                                      rowsPerBlock: Int, replace: Boolean,
                                      codec: String,
                                      clusterBy: Option[String] = None,
                                      bloomFor: Set[String] = Set.empty,
                                      bucketSpec: Option[(String, Int)] = None)
    extends BatchWrite {
  // the job uid doubles as the data-file name suffix: partitionId/taskId
  // are only unique within ONE Spark application, so an append from a
  // fresh session would otherwise collide with existing files mid-move
  private val jobUid = UUID.randomUUID().toString
  private val staging = s"_staging-$jobUid"

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new GcolWriterFactory(dir, staging, jobUid, schema.json, rowsPerBlock,
      codec, clusterBy, bloomFor, bucketSpec)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val root = Paths.get(dir)
    val head = GcolSnapshots.headVersion(dir)
    // all-or-nothing: until the head moves no reader sees the moved
    // files, so a failed move or commit UNWINDS them; an overwrite's
    // replaced files stay on disk for readers of older versions
    val moved = scala.collection.mutable.ArrayBuffer.empty[Path]
    try {
      val committed = messages.toSeq.collect {
        case GcolFileCommitted(rel) if rel.nonEmpty =>
          val dst = root.resolve(rel)
          Files.move(root.resolve(staging).resolve(rel), dst)
          moved += dst
          rel
      }
      val base =
        if (replace) Nil else head.fold(Seq.empty[String])(GcolSnapshots.files(dir, _))
      GcolSnapshots.commit(dir, base ++ committed, expectedHead = head)
    } catch {
      case t: Throwable =>
        moved.foreach(Files.deleteIfExists)
        throw t
    } finally cleanupStaging()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    cleanupStaging()

  private def cleanupStaging(): Unit = {
    val d = Paths.get(dir).resolve(staging)
    if (Files.isDirectory(d)) {
      val s = Files.list(d)
      try s.forEach(p => Files.deleteIfExists(p)) finally s.close()
      Files.deleteIfExists(d)
    }
  }
}

private[sources] case class GcolFileCommitted(rel: String)
    extends WriterCommitMessage

private[sources] class GcolWriterFactory(dir: String, staging: String,
                                         jobUid: String,
                                         schemaJson: String, rowsPerBlock: Int,
                                         codec: String,
                                         clusterBy: Option[String],
                                         bloomFor: Set[String] = Set.empty,
                                         bucketSpec: Option[(String, Int)] = None)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int,
                            taskId: Long): DataWriter[InternalRow] =
    new GcolDataWriter(dir, staging, jobUid,
      DataType.fromJson(schemaJson).asInstanceOf[StructType],
      rowsPerBlock, codec, clusterBy, bloomFor, partitionId, taskId,
      bucketSpec)
}

/** Buffers exactly ONE block (bounded memory), encodes and appends it
  * when full, accumulating footer metadata; speculative attempts write
  * distinct file names and lose in abort().
  */
private[sources] class GcolDataWriter(dir: String, staging: String,
                                      jobUid: String,
                                      schema: StructType, rowsPerBlock: Int,
                                      codec: String,
                                      clusterBy: Option[String],
                                      bloomFor: Set[String],
                                      partitionId: Int, taskId: Long,
                                      bucketSpec: Option[(String, Int)] = None)
    extends DataWriter[InternalRow] {

  // jobUid makes names unique ACROSS applications (appends never collide)
  private val rel = s"part-$partitionId-$taskId-$jobUid.gcol"
  private val path = {
    val d = Paths.get(dir).resolve(staging)
    Files.createDirectories(d)
    d.resolve(rel)
  }
  private val raf = new RandomAccessFile(path.toFile, "rw")
  private val chan = raf.getChannel

  private val enc = new ColumnarFormat.BlockEncoder(schema, rowsPerBlock,
    bloomFor)
  private val blockMetas = scala.collection.mutable.ArrayBuffer
    .empty[ColumnarFormat.BlockMeta]
  private var total = 0L

  // clustered writes cut a block at every cluster-value boundary (rows
  // arrive sorted by RequiresDistributionAndOrdering), so each block is
  // PURE: zone map min == max == the block's single cluster value
  private val clusterIdx: Option[Int] = clusterBy.map(schema.fieldIndex)
  private var lastKey: Any = null
  private var haveKey = false

  private def clusterKeyOf(row: InternalRow, ci: Int): Any =
    if (row.isNullAt(ci)) null
    else schema.fields(ci).dataType match {
      case StringType => row.getUTF8String(ci).toString // copy: rows reuse buffers
      case IntegerType | DateType => row.getInt(ci)
      case LongType | TimestampType | TimestampNTZType => row.getLong(ci)
      case DoubleType => row.getDouble(ci)
      case BooleanType => row.getBoolean(ci)
      case dt => throw new IllegalStateException(s"unreachable: $dt")
    }

  override def write(row: InternalRow): Unit = {
    clusterIdx.foreach { ci =>
      val k = clusterKeyOf(row, ci)
      if (haveKey && k != lastKey) flush()
      lastKey = k; haveKey = true
    }
    enc.add(row)
    total += 1
    if (enc.rows == rowsPerBlock) flush()
  }

  private def flush(): Unit = if (enc.rows > 0) {
    blockMetas += enc.writeTo(chan, codec)
    enc.reset()
  }

  override def commit(): WriterCommitMessage = {
    flush()
    if (total == 0) {
      chan.close(); raf.close(); Files.deleteIfExists(path)
      GcolFileCommitted("")
    } else {
      ColumnarFormat.writeFooter(chan, schema, blockMetas.toSeq, codec,
        clusterBy, bucketSpec)
      chan.close(); raf.close()
      GcolFileCommitted(rel)
    }
  }

  override def abort(): Unit = {
    try { chan.close(); raf.close() } catch { case _: Throwable => () }
    Files.deleteIfExists(path)
  }

  override def close(): Unit = ()
}

// ---------------------------------------------------------------------
// the format itself
// ---------------------------------------------------------------------

/** Snapshot-version offset (GcolSnapshots): 0 is the empty table. */
private[sources] case class GcolOffset(n: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = n.toString
}

private[sources] class GcolMicroBatchStream(
    dir: String, required: StructType, filters: Array[Filter])
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  override def initialOffset(): Offset = GcolOffset(0L)
  override def latestOffset(): Offset =
    GcolOffset(GcolSnapshots.headVersion(dir).getOrElse(0L))
  override def deserializeOffset(json: String): Offset =
    GcolOffset(json.toLong)

  /** Batch (s, e] reads the files versions s+1..e added that the head
    * still holds, in version order and then name order. A file a later
    * copy-on-write rewrite replaced is skipped: its surviving rows
    * arrive with the rewrite's version (the Delta `ignoreChanges`
    * contract — rows already delivered are never taken back, and a
    * stream from 0 gets the head state once).
    */
  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GcolOffset].n
    val e = end.asInstanceOf[GcolOffset].n
    if (e <= s) return Array.empty
    val live = GcolSnapshots.headFiles(dir).toSet
    val added = GcolSnapshots.addedFiles(dir, s, e).filter(live.contains)
    // each file sorts under the first retained version in (s, e] holding it
    val firstSeen: Map[String, Long] = GcolSnapshots.retainedVersions(dir)
      .filter(v => v > s && v <= e).reverse
      .flatMap(v => GcolSnapshots.files(dir, v).map(_ -> v)).toMap
    val ordered = added.sortBy(n => (firstSeen(n), n))
    val lin = ColumnarFormat.lineage(dir)
    val evolved = ColumnarFormat.readSchemaState(dir).isDefined
    ordered.flatMap { rel =>
      val f = Paths.get(dir).resolve(rel)
      val footer = ColumnarFormat.readFooter(f)
      val descs = footer.blocks.zipWithIndex.flatMap { case (blk, bi) =>
        if (filters.forall(ColumnarFormat.mayMatch(footer.schema, blk, _)))
          Some(ColumnarFormat.blockDesc(f, footer, blk, bi, required, lin,
            evolved))
        else None
      }
      // one task per file: the batch-local unit
      if (descs.isEmpty) None
      else Some(GcolBlockPartition(descs.toArray, required.json))
    }.toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GcolReaderFactory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

object ColumnarFormat {
  val DefaultRowsPerBlock = 16384
  val Magic: Long = 0x47434F4C464D5431L // "GCOLFMT1"

  // ---- schema evolution (GcolSchemaOps writes, every reader resolves) --
  //
  // A table-level `_gcol_schema` file (written atomically by the DDL ops
  // in GcolSchemaOps) carries the CURRENT schema plus, per column, the
  // column's FORMER names (rename lineage). Data files keep the schema
  // they were written with; readers resolve each table column against a
  // file footer by current name first, then formers newest-first —
  // so a renamed column still reads (and zone-map-prunes) from old
  // files, and a column ADDED after a file was written resolves to
  // nothing and is synthesized as an all-null vector (the Iceberg
  // add-column contract). Absent `_gcol_schema`, the head footer is the
  // schema and the lineage is empty — untouched tables behave exactly
  // as before.

  val SchemaFileName = "_gcol_schema"

  /** Table schema: the evolved `_gcol_schema` if present, else the head
    * data file's footer schema (the pre-evolution behavior).
    */
  def tableSchema(dir: String): StructType =
    readSchemaState(dir).map(_._1).getOrElse {
      val files = scopedFiles(dir, None)
      require(files.nonEmpty, s"no .gcol files under $dir")
      readFooter(files.head).schema
    }

  /** Rename lineage: current column name -> former names, NEWEST first.
    * Empty for never-evolved tables.
    */
  def lineage(dir: String): Map[String, Seq[String]] =
    readSchemaState(dir).map(_._2).getOrElse(Map.empty)

  /** (schema, formers) from `_gcol_schema`, or None if absent. */
  def readSchemaState(dir: String): Option[(StructType, Map[String, Seq[String]])] = {
    val p = Paths.get(dir).resolve(SchemaFileName)
    if (!Files.exists(p)) return None
    val root = mapper.readTree(Files.readAllBytes(p))
    val schema = DataType.fromJson(root.get("schema").asText())
      .asInstanceOf[StructType]
    val formers = scala.collection.mutable.Map.empty[String, Seq[String]]
    if (root.has("formers")) {
      val it = root.get("formers").fields()
      while (it.hasNext) {
        val e = it.next()
        val names = scala.collection.mutable.ArrayBuffer.empty[String]
        e.getValue.forEach(n => names += n.asText())
        formers(e.getKey) = names.toSeq
      }
    }
    Some((schema, formers.toMap))
  }

  /** Atomic write of the schema state (tmp + move): readers see either
    * the old or the new schema, never a torn file.
    */
  def writeSchemaState(dir: String, schema: StructType,
                       formers: Map[String, Seq[String]]): Unit = {
    val root: ObjectNode = mapper.createObjectNode()
    root.put("schema", schema.json)
    val fn = root.putObject("formers")
    formers.foreach { case (cur, olds) =>
      if (olds.nonEmpty) {
        val a = fn.putArray(cur)
        olds.foreach(a.add)
      }
    }
    val tmp = Paths.get(dir).resolve(SchemaFileName + ".tmp")
    Files.write(tmp, mapper.writeValueAsBytes(root))
    Files.move(tmp, Paths.get(dir).resolve(SchemaFileName),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Resolve a table column against a data file's footer schema:
    * current name first, then former names newest-first. None = the
    * column postdates the file (reads as all-null). A hit with a
    * DIFFERENT data type fails loudly — type evolution is not part of
    * the contract.
    */
  def resolveField(fileSchema: StructType, field: StructField,
                   lin: Map[String, Seq[String]]): Option[Int] = {
    val names = field.name +: lin.getOrElse(field.name, Nil)
    names.iterator.flatMap(n => fieldIdx(fileSchema, n)).nextOption()
      .map { i =>
        require(fileSchema.fields(i).dataType == field.dataType,
          s"column `${field.name}` is ${field.dataType.simpleString} in " +
            s"the table schema but ${fileSchema.fields(i).dataType.simpleString} " +
            "in an existing data file; gcol schema evolution does not " +
            "change column types")
        i
      }
  }

  /** The file-LOCAL name a table column resolves to (for pushing the
    * scan's filters through a rename), or None when the column postdates
    * the file.
    */
  def resolveName(fileSchema: StructType, name: String,
                  lin: Map[String, Seq[String]]): Option[String] =
    (name +: lin.getOrElse(name, Nil)).find(n =>
      fieldIdx(fileSchema, n).isDefined)

  /** Rewrite a pushed filter's attribute names into one data file's
    * local names (rename lineage); attributes the file never had keep
    * their table name — mayMatch's missing-column path keeps the block
    * and the residual filter evaluates over the synthesized null vector.
    */
  def renameFilter(f: Filter, m: Map[String, String]): Filter = {
    def n(a: String): String = m.getOrElse(a, a)
    f match {
      case EqualTo(a, v) => EqualTo(n(a), v)
      case GreaterThan(a, v) => GreaterThan(n(a), v)
      case GreaterThanOrEqual(a, v) => GreaterThanOrEqual(n(a), v)
      case LessThan(a, v) => LessThan(n(a), v)
      case LessThanOrEqual(a, v) => LessThanOrEqual(n(a), v)
      case In(a, vs) => In(n(a), vs)
      case IsNull(a) => IsNull(n(a))
      case IsNotNull(a) => IsNotNull(n(a))
      case And(l, r) => And(renameFilter(l, m), renameFilter(r, m))
      case Or(l, r) => Or(renameFilter(l, m), renameFilter(r, m))
      case other => other
    }
  }

  /** One block's read descriptor with evolution-aware column resolution:
    * a table column the file lacks gets the ABSENT sentinel (off = -1)
    * and decodes as an all-null vector of the table type — but ONLY on
    * tables that actually evolved (`evolved` = a `_gcol_schema` exists,
    * so a missing column IS a post-file addition by contract). On a
    * never-evolved table a file lacking a required column is
    * CORRUPTION (a stray file of another schema, a half-finished
    * overwrite) and fails loudly, as it always did — silently reading
    * nulls there would reclassify damage as evolution.
    */
  def blockDesc(f: Path, footer: Footer, blk: BlockView, blkIdx: Int,
                required: StructType,
                lin: Map[String, Seq[String]],
                evolved: Boolean = false): GcolBlockDesc = {
    val idx = required.fields.map { r =>
      val o = resolveField(footer.schema, r, lin)
      require(o.isDefined || evolved,
        s"$f lacks required column ${r.name}, and the table has no " +
          "_gcol_schema declaring it as a later addition — mixed-schema " +
          "directory?")
      o
    }
    GcolBlockDesc(f.toString, blk.rows,
      idx.map(_.fold(-1L)(blk.offs)),
      idx.map(_.fold(0L)(blk.lens)),
      idx.map(_.fold(0L)(j => blk.cols(j).rawLen)), footer.codec,
      idx.map(_.fold("absent")(j => blk.cols(j).enc)), blkIdx)
  }

  /** TopN block pruning. `parts` must be every block in footer
    * iteration order (the only state topN is pushed in: no filters, so
    * nothing was skipped); the exclusion criterion is the sound one
    * from the ScanBuilder scaladoc. Bails to no-op (correct, just
    * unpruned) when any block holds nulls or lacks a zone map, or when
    * the partition list doesn't line up with the footers. O(B²) over
    * driver-side block stats — fine at metadata scale; switch to
    * sort + prefix sums if B ever reaches millions.
    */
  def topNPrune(files: Seq[Path], parts: Array[GcolBlockDesc],
                colName: String, asc: Boolean, n: Int): Array[GcolBlockDesc] = {
    case class BS(rows: Int, min: Any, max: Any, nulls: Int)
    val stats = scala.collection.mutable.ArrayBuffer.empty[BS]
    var dt: DataType = null
    files.foreach { f =>
      val ft = readFooter(f)
      if (!ft.schema.fieldNames.contains(colName)) return parts
      val i = ft.schema.fieldIndex(colName)
      dt = ft.schema.fields(i).dataType
      ft.blocks.foreach { blk =>
        val c = blk.cols(i)
        stats += BS(blk.rows, c.min.orNull, c.max.orNull, c.nullCount)
      }
    }
    if (stats.length != parts.length) return parts
    if (stats.exists(s => s.nulls > 0 || s.min == null)) return parts
    val comparable = dt match {
      case IntegerType | DateType | LongType | TimestampType |
           TimestampNTZType | DoubleType | StringType => true
      case _ => false
    }
    if (!comparable) return parts
    def cmp(a: Any, b: Any): Int = dt match {
      case IntegerType | DateType =>
        Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int])
      case LongType | TimestampType | TimestampNTZType =>
        java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
      case DoubleType =>
        // SQL zero equality: -0.0 ties with 0.0, so neither counts as
        // "provably before" the other (NaN never reaches here — NaN
        // segments have no zone map and the caller already bailed)
        def z(d: Double): Double = if (d == 0.0) 0.0 else d
        java.lang.Double.compare(z(a.asInstanceOf[Double]),
          z(b.asInstanceOf[Double]))
      case _ =>
        UTF8String.fromString(a.asInstanceOf[String])
          .compareTo(UTF8String.fromString(b.asInstanceOf[String]))
    }
    parts.indices.filter { bi =>
      val b = stats(bi)
      var provablyBefore = 0L
      stats.foreach { o =>
        if (if (asc) cmp(o.max, b.min) < 0 else cmp(o.min, b.max) > 0)
          provablyBefore += o.rows
      }
      provablyBefore < n // keep iff the block can still reach the top n
    }.map(parts).toArray
  }

  // ---- per-block BLOOM filters (opt-in, `option("bloomFor","c1,c2")`) --
  //
  // Zone maps prune RANGES and are blind on a high-cardinality UNSORTED
  // column (every block's [min,max] spans the domain). A per-(block,
  // column) bloom in the footer answers point predicates (=, IN — and
  // therefore runtime In-filters from DPP) there: 1 byte/row, k=5,
  // ~2-3% false keeps. Values hash by a CANONICAL byte form (integers
  // widened to int64 LE, strings as UTF-8) so any integral literal
  // width matches; doubles are excluded (exact equality on floats is
  // not a sane pruning contract).

  val BloomK = 5

  def bloomCanonical(v: Any): Option[Array[Byte]] = v match {
    case s: String => Some(s.getBytes(StandardCharsets.UTF_8))
    case u: UTF8String => Some(u.getBytes)
    case i: Int => Some(longBytes(i.toLong))
    case l: Long => Some(longBytes(l))
    case sh: Short => Some(longBytes(sh.toLong))
    case by: Byte => Some(longBytes(by.toLong))
    case _ => None
  }

  private def longBytes(l: Long): Array[Byte] =
    ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putLong(l).array()

  /** Kirsch–Mitzenmacher double hashing over the md5-based h15. */
  private def bloomIdx(h1: Long, i: Int, nBits: Int): Int = {
    val h2 = (h1 * 0x9E3779B97F4A7C15L) | 1L
    (((h1 + i.toLong * h2) & Long.MaxValue) % nBits).toInt
  }

  def bloomAdd(bits: Array[Byte], bytes: Array[Byte]): Unit = {
    val nBits = bits.length * 8
    val h1 = graft.functions.MinHashSig.h15(bytes)
    var i = 0
    while (i < BloomK) {
      val idx = bloomIdx(h1, i, nBits)
      bits(idx / 8) = (bits(idx / 8) | (1 << (idx % 8))).toByte
      i += 1
    }
  }

  def bloomMayContain(bits: Array[Byte], bytes: Array[Byte]): Boolean = {
    val nBits = bits.length * 8
    val h1 = graft.functions.MinHashSig.h15(bytes)
    var i = 0
    while (i < BloomK) {
      val idx = bloomIdx(h1, i, nBits)
      if ((bits(idx / 8) & (1 << (idx % 8))) == 0) return false
      i += 1
    }
    true
  }

  /** Reserved metadata-column names (SupportsMetadataColumns). */
  val MetaFile = "_gcol_file"
  val MetaBlock = "_gcol_block"
  val MetaPos = "_gcol_pos"
  val MetaNames: Seq[String] = Seq(MetaFile, MetaBlock, MetaPos)

  def metaField(name: String): StructField = name match {
    case MetaFile => StructField(MetaFile, StringType, nullable = false)
    case _ => StructField(name, IntegerType, nullable = false)
  }

  /** The scan's file universe: the head snapshot, or a retained older
    * snapshot under `asOf` (GcolSnapshots; readers never race a
    * publish: the pointer swap is atomic and replaced files stay on
    * disk); optionally narrowed to the `files` option's named subset
    * (GcolRowOps' copy-on-write rewrite hook).
    */
  def scopedFiles(dir: String, only: Option[Set[String]],
                  asOf: Option[Long] = None): Seq[Path] = {
    val names = asOf.fold(GcolSnapshots.headFiles(dir))(GcolSnapshots.files(dir, _))
    val all = names.map(n => Paths.get(dir).resolve(n))
    only match {
      case Some(subset) =>
        val sel = all.filter(f => subset.contains(f.getFileName.toString))
        require(sel.size == subset.size,
          s"files option names ${subset.size} files, found ${sel.size} in $dir")
        sel
      case None => all
    }
  }

  /** Option-shaped fieldIndex (StructType.getFieldIndex is private[sql]). */
  def fieldIdx(schema: StructType, name: String): Option[Int] = {
    val i = schema.fields.indexWhere(_.name == name)
    if (i < 0) None else Some(i)
  }

  /** Deterministic total order over footer-carried values of one type —
    * used to freeze the key-group partition order (driver metadata
    * scale only; cluster keys are null-free by the purity invariant).
    */
  def anyOrdering(dt: DataType): Ordering[Any] = new Ordering[Any] {
    override def compare(a: Any, b: Any): Int = dt match {
      case IntegerType | DateType =>
        Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int])
      case LongType | TimestampType | TimestampNTZType =>
        java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
      case DoubleType =>
        java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double])
      case StringType =>
        UTF8String.fromString(a.asInstanceOf[String])
          .compareTo(UTF8String.fromString(b.asInstanceOf[String]))
      case BooleanType =>
        java.lang.Boolean.compare(a.asInstanceOf[Boolean], b.asInstanceOf[Boolean])
      case _ => 0
    }
  }

  /** Footer-answerable aggregates (ungrouped, unfiltered). */
  sealed trait AggSpec
  case object AggCountStar extends AggSpec {
    override def toString = "COUNT(*)"
  }
  case class AggCount(col: String) extends AggSpec {
    override def toString = s"COUNT($col)"
  }
  case class AggMin(col: String, dt: DataType) extends AggSpec {
    override def toString = s"MIN($col)"
  }
  case class AggMax(col: String, dt: DataType) extends AggSpec {
    override def toString = s"MAX($col)"
  }

  /** Scan output schema for a pushed aggregation, in aggregate order —
    * the partial-pushdown contract Spark's final aggregate merges over.
    */
  def aggSchema(specs: Seq[AggSpec]): StructType = StructType(
    specs.zipWithIndex.map {
      case (AggCountStar, i) =>
        StructField(s"agg_$i", LongType, nullable = false)
      case (AggCount(_), i) =>
        StructField(s"agg_$i", LongType, nullable = false)
      case (AggMin(_, dt), i) => StructField(s"agg_$i", dt, nullable = true)
      case (AggMax(_, dt), i) => StructField(s"agg_$i", dt, nullable = true)
    })

  case class ColMeta(off: Long, len: Long, nullCount: Int,
                     min: Option[Any], max: Option[Any],
                     raw: Long = -1L, enc: String = "plain",
                     bloom: Option[Array[Byte]] = None) {
    def rawLen: Long = if (raw < 0) len else raw
  }
  case class BlockMeta(rows: Int, cols: Array[ColMeta]) {
    def offs: Array[Long] = cols.map(_.off)
    def lens: Array[Long] = cols.map(_.len)
  }
  case class Footer(schema: StructType, blockList: Seq[BlockMeta],
                    codec: String = "none",
                    clusterBy: Option[String] = None,
                    bucketSpec: Option[(String, Int)] = None) {
    def blocks: Seq[BlockView] = blockList.zipWithIndex.map { case (b, _) =>
      BlockView(b.rows, b.cols.map(_.off), b.cols.map(_.len), b.cols)
    }
  }
  case class BlockView(rows: Int, offs: Array[Long], lens: Array[Long],
                       cols: Array[ColMeta])

  private val mapper = new ObjectMapper()

  /** Per-segment codecs, all from Spark's own shipped jars. */
  def checkCodec(codec: String): Unit = codec match {
    case "none" | "zstd" | "lz4" => ()
    case other => throw new IllegalArgumentException(
      s"graft-columnar codec must be none|zstd|lz4, got `$other`")
  }

  def compress(codec: String, raw: Array[Byte]): Array[Byte] = codec match {
    case "zstd" => com.github.luben.zstd.Zstd.compress(raw, 3)
    case "lz4" =>
      net.jpountz.lz4.LZ4Factory.fastestInstance().fastCompressor()
        .compress(raw)
    case _ => raw
  }

  def decompress(codec: String, comp: Array[Byte],
                 rawLen: Int): Array[Byte] = codec match {
    case "zstd" =>
      val dst = new Array[Byte](rawLen)
      com.github.luben.zstd.Zstd.decompress(dst, comp)
      dst
    case "lz4" =>
      net.jpountz.lz4.LZ4Factory.fastestInstance().fastDecompressor()
        .decompress(comp, rawLen)
    case _ => comp
  }

  def checkType(f: StructField): Unit = f.dataType match {
    case BooleanType | IntegerType | DateType | LongType | TimestampType |
         TimestampNTZType | DoubleType | StringType => ()
    case dt => throw new IllegalArgumentException(
      s"graft-columnar does not support column `${f.name}` of type " +
        s"${dt.simpleString}; supported: boolean, int, date, bigint, " +
        "timestamp, timestamp_ntz, double, string")
  }

  /** Every `.gcol` file in `dir`, live or not: what GcolSnapshots.vacuum
    * sweeps. Reads plan from [[scopedFiles]], never from this listing.
    */
  def listFiles(dir: String): Seq[Path] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) return Nil
    val s = Files.list(d)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.getFileName.toString.endsWith(".gcol"))
        .toSeq.sortBy(_.getFileName.toString)
    } finally s.close()
  }

  // ---- footer ---------------------------------------------------------

  def writeFooter(chan: java.nio.channels.FileChannel, schema: StructType,
                  blocks: Seq[BlockMeta], codec: String = "none",
                  clusterBy: Option[String] = None,
                  bucketSpec: Option[(String, Int)] = None): Unit = {
    val root: ObjectNode = mapper.createObjectNode()
    root.put("schema", schema.json)
    root.put("codec", codec)
    clusterBy.foreach(root.put("clusterBy", _))
    bucketSpec.foreach { case (k, n) =>
      root.put("bucketKey", k); root.put("bucketN", n)
    }
    val arr: ArrayNode = root.putArray("blocks")
    blocks.foreach { b =>
      val bn = arr.addObject()
      bn.put("rows", b.rows)
      val cn = bn.putArray("cols")
      b.cols.zip(schema.fields).foreach { case (c, f) =>
        val o = cn.addObject()
        o.put("o", c.off); o.put("l", c.len); o.put("nn", c.nullCount)
        if (c.raw >= 0 && c.raw != c.len) o.put("rl", c.raw)
        if (c.enc != "plain") o.put("e", c.enc)
        c.bloom.foreach { b =>
          o.put("bf", java.util.Base64.getEncoder.encodeToString(b))
          o.put("bfk", BloomK)
        }
        (c.min, c.max) match {
          case (Some(mn), Some(mx)) => f.dataType match {
            case IntegerType | DateType =>
              o.put("mn", mn.asInstanceOf[Int]); o.put("mx", mx.asInstanceOf[Int])
            case LongType | TimestampType | TimestampNTZType =>
              o.put("mn", mn.asInstanceOf[Long]); o.put("mx", mx.asInstanceOf[Long])
            case DoubleType =>
              o.put("mn", mn.asInstanceOf[Double]); o.put("mx", mx.asInstanceOf[Double])
            case StringType =>
              o.put("mn", mn.asInstanceOf[String]); o.put("mx", mx.asInstanceOf[String])
            case _ => ()
          }
          case _ => ()
        }
      }
    }
    val bytes = mapper.writeValueAsBytes(root)
    val tail = ByteBuffer.allocate(bytes.length + 12)
      .order(ByteOrder.LITTLE_ENDIAN)
    tail.put(bytes).putInt(bytes.length).putLong(Magic).flip()
    while (tail.hasRemaining) chan.write(tail)
  }

  def readFooter(path: Path): Footer = {
    val raf = new RandomAccessFile(path.toFile, "r")
    try {
      val size = raf.length()
      require(size >= 12, s"$path: not a gcol file")
      val tail = ByteBuffer.allocate(12).order(ByteOrder.LITTLE_ENDIAN)
      raf.getChannel.read(tail, size - 12); tail.flip()
      val fLen = tail.getInt
      require(tail.getLong == Magic, s"$path: bad gcol magic")
      val fBuf = ByteBuffer.allocate(fLen)
      raf.getChannel.read(fBuf, size - 12 - fLen)
      val root = mapper.readTree(fBuf.array())
      val schema = DataType.fromJson(root.get("schema").asText())
        .asInstanceOf[StructType]
      val codec =
        if (root.has("codec")) root.get("codec").asText() else "none"
      val clusterBy =
        if (root.has("clusterBy")) Some(root.get("clusterBy").asText())
        else None
      val bucketSpec =
        if (root.has("bucketKey"))
          Some((root.get("bucketKey").asText(), root.get("bucketN").asInt()))
        else None
      val blocks = scala.collection.mutable.ArrayBuffer.empty[BlockMeta]
      root.get("blocks").forEach { bn =>
        val cols = scala.collection.mutable.ArrayBuffer.empty[ColMeta]
        var i = 0
        bn.get("cols").forEach { cn =>
          val dt = schema.fields(i).dataType
          val mm: (Option[Any], Option[Any]) =
            if (!cn.has("mn")) (None, None)
            else dt match {
              case IntegerType | DateType =>
                (Some(cn.get("mn").asInt()), Some(cn.get("mx").asInt()))
              case LongType | TimestampType | TimestampNTZType =>
                (Some(cn.get("mn").asLong()), Some(cn.get("mx").asLong()))
              case DoubleType =>
                (Some(cn.get("mn").asDouble()), Some(cn.get("mx").asDouble()))
              case StringType =>
                (Some(cn.get("mn").asText()), Some(cn.get("mx").asText()))
              case _ => (None, None)
            }
          cols += ColMeta(cn.get("o").asLong(), cn.get("l").asLong(),
            cn.get("nn").asInt(), mm._1, mm._2,
            if (cn.has("rl")) cn.get("rl").asLong() else cn.get("l").asLong(),
            if (cn.has("e")) cn.get("e").asText() else "plain",
            if (cn.has("bf"))
              Some(java.util.Base64.getDecoder.decode(cn.get("bf").asText()))
            else None)
          i += 1
        }
        blocks += BlockMeta(bn.get("rows").asInt(), cols.toArray)
      }
      Footer(schema, blocks.toSeq, codec, clusterBy, bucketSpec)
    } finally raf.close()
  }

  // ---- zone-map evaluation -------------------------------------------

  /** Filters the zone maps can participate in (attribute vs literal on a
    * numeric/string column, null tests, conjunction/disjunction).
    * Date/timestamp literals arrive as java.sql/java.time values — left
    * out of skipping (conservative), their blocks always survive.
    */
  def supportedFilter(schema: StructType, f: Filter): Boolean = f match {
    case EqualTo(a, v) => zoneCol(schema, a) && plainLit(v)
    case GreaterThan(a, v) => zoneCol(schema, a) && plainLit(v)
    case GreaterThanOrEqual(a, v) => zoneCol(schema, a) && plainLit(v)
    case LessThan(a, v) => zoneCol(schema, a) && plainLit(v)
    case LessThanOrEqual(a, v) => zoneCol(schema, a) && plainLit(v)
    case In(a, vs) => zoneCol(schema, a) && vs.forall(plainLit)
    case IsNull(a) => schema.fieldNames.contains(a)
    case IsNotNull(a) => schema.fieldNames.contains(a)
    case And(l, r) => supportedFilter(schema, l) && supportedFilter(schema, r)
    case Or(l, r) => supportedFilter(schema, l) && supportedFilter(schema, r)
    case _ => false
  }

  private def zoneCol(schema: StructType, name: String): Boolean =
    schema.fields.find(_.name == name).exists(_.dataType match {
      case IntegerType | LongType | DoubleType | StringType => true
      case _ => false
    })

  private def plainLit(v: Any): Boolean = v match {
    case _: Int | _: Long | _: Short | _: Byte | _: Double | _: Float |
         _: String => true
    case _: UTF8String => true
    case _ => false
  }

  /** Conservative per-block test: false ONLY when the zone map proves no
    * row can satisfy `f`. Unknown shapes answer true.
    */
  def mayMatch(schema: StructType, blk: BlockView, f: Filter): Boolean = {
    // getFieldIndex, not fieldIndex: a filter column missing from an
    // older file's footer schema must fall through to `case None =>
    // true` (block conservatively kept), not fail planning
    def col(name: String): Option[(ColMeta, DataType)] =
      fieldIdx(schema, name).map(i =>
        (blk.cols(i), schema.fields(i).dataType))
    // three-way compare of zone bound vs literal in the column's domain
    def cmp(bound: Any, v: Any, dt: DataType): Option[Int] = dt match {
      case IntegerType | LongType =>
        val b = bound match { case i: Int => i.toLong; case l: Long => l }
        v match {
          case i: Int => Some(java.lang.Long.compare(b, i.toLong))
          case l: Long => Some(java.lang.Long.compare(b, l))
          case s: Short => Some(java.lang.Long.compare(b, s.toLong))
          case by: Byte => Some(java.lang.Long.compare(b, by.toLong))
          case _ => None // fractional literal vs integral column: keep block
        }
      case DoubleType =>
        // SQL treats -0.0 = 0.0 but Double.compare orders -0.0 < 0.0;
        // normalize both sides so a block holding only -0.0 is never
        // pruned for `= 0.0` (NaN segments carry no zone map at all —
        // BlockEncoder omits min/max when any NaN is present)
        def z(d: Double): Double = if (d == 0.0) 0.0 else d
        val b = z(bound.asInstanceOf[Double])
        v match {
          case d: Double => Some(java.lang.Double.compare(b, z(d)))
          case fl: Float => Some(java.lang.Double.compare(b, z(fl.toDouble)))
          case i: Int => Some(java.lang.Double.compare(b, i.toDouble))
          case l: Long => Some(java.lang.Double.compare(b, l.toDouble))
          case _ => None
        }
      case StringType =>
        val b = UTF8String.fromString(bound.asInstanceOf[String])
        v match {
          case s: String => Some(b.compareTo(UTF8String.fromString(s)))
          case u: UTF8String => Some(b.compareTo(u))
          case _ => None
        }
      case _ => None
    }
    def range(name: String, v: Any)(
        test: (Int, Int) => Boolean): Boolean =
      col(name) match {
        case Some((c, dt)) =>
          (c.min, c.max) match {
            case (Some(mn), Some(mx)) =>
              (cmp(mn, v, dt), cmp(mx, v, dt)) match {
                case (Some(cl), Some(ch)) => test(cl, ch)
                case _ => true
              }
            // stats absent: prunable ONLY when provably all-null (a
            // NaN-bearing double segment also carries no zone map and
            // must be kept — range predicates can still match its
            // non-NaN rows)
            case _ => c.nullCount != blk.rows
          }
        case None => true
      }
    // point-predicate refinement: after the zone range passes, a
    // footer bloom (if present) can still prove the value absent
    def bloomPass(name: String, v: Any): Boolean =
      col(name) match {
        case Some((c, _)) => (c.bloom, bloomCanonical(v)) match {
          case (Some(bits), Some(bytes)) => bloomMayContain(bits, bytes)
          case _ => true
        }
        case None => true
      }
    f match {
      case EqualTo(a, v) =>
        range(a, v)((cl, ch) => cl <= 0 && ch >= 0) && bloomPass(a, v)
      case GreaterThan(a, v) => range(a, v)((_, ch) => ch > 0)
      case GreaterThanOrEqual(a, v) => range(a, v)((_, ch) => ch >= 0)
      case LessThan(a, v) => range(a, v)((cl, _) => cl < 0)
      case LessThanOrEqual(a, v) => range(a, v)((cl, _) => cl <= 0)
      case In(a, vs) =>
        vs.exists(v => range(a, v)((cl, ch) => cl <= 0 && ch >= 0) &&
          bloomPass(a, v))
      case IsNull(a) =>
        col(a).forall { case (c, _) => c.nullCount > 0 }
      case IsNotNull(a) =>
        col(a).forall { case (c, _) => c.nullCount < blk.rows }
      case And(l, r) => mayMatch(schema, blk, l) && mayMatch(schema, blk, r)
      case Or(l, r) => mayMatch(schema, blk, l) || mayMatch(schema, blk, r)
      case _ => true
    }
  }

  // ---- block encode ---------------------------------------------------

  /** One block's worth of column builders; bounded at rowsPerBlock. */
  final class BlockEncoder(schema: StructType, cap: Int,
                           bloomFor: Set[String] = Set.empty) {
    private val n = schema.length
    private val nulls = Array.fill(n)(new Array[Boolean](cap))
    private val longs = schema.fields.map {
      case f if isLong(f.dataType) => new Array[Long](cap)
      case _ => null
    }
    private val ints = schema.fields.map {
      case f if isInt(f.dataType) => new Array[Int](cap)
      case _ => null
    }
    private val dbls = schema.fields.map {
      case f if f.dataType == DoubleType => new Array[Double](cap)
      case _ => null
    }
    private val bools = schema.fields.map {
      case f if f.dataType == BooleanType => new Array[Boolean](cap)
      case _ => null
    }
    private val strs = schema.fields.map {
      case f if f.dataType == StringType => new Array[Array[Byte]](cap)
      case _ => null
    }
    var rows = 0

    private def isLong(dt: DataType) = dt match {
      case LongType | TimestampType | TimestampNTZType => true
      case _ => false
    }
    private def isInt(dt: DataType) = dt match {
      case IntegerType | DateType => true
      case _ => false
    }

    def add(row: InternalRow): Unit = {
      var i = 0
      while (i < n) {
        // explicit both-ways set: the arrays are REUSED across blocks
        // (reset() only rewinds the cursor), so a stale `true` from the
        // previous block must be overwritten
        nulls(i)(rows) = row.isNullAt(i)
        if (!nulls(i)(rows)) schema.fields(i).dataType match {
          case LongType | TimestampType | TimestampNTZType =>
            longs(i)(rows) = row.getLong(i)
          case IntegerType | DateType => ints(i)(rows) = row.getInt(i)
          case DoubleType => dbls(i)(rows) = row.getDouble(i)
          case BooleanType => bools(i)(rows) = row.getBoolean(i)
          case StringType => strs(i)(rows) = row.getUTF8String(i).getBytes
          case dt => throw new IllegalStateException(s"unreachable: $dt")
        }
        i += 1
      }
      rows += 1
    }

    def reset(): Unit = rows = 0

    /** Fixed-width segment with an optional RLE alternative: null rows
      * inherit the previous value so clustered/sorted columns collapse
      * to a handful of runs. Chosen only when it SAVES bytes; zone maps
      * are computed from the raw values either way, so pruning is
      * encoding-independent.
      */
    private def encodeFixed(i: Int, width: Int,
                            get: Int => Long): (ByteBuffer, String) = {
      val bitmapLen = (rows + 7) / 8
      // effective values: null rows repeat the previous value (stale
      // buffer content must never leak into runs)
      val eff = new Array[Long](rows)
      var r = 0
      var prev = 0L
      while (r < rows) {
        if (!nulls(i)(r)) prev = get(r)
        eff(r) = prev
        r += 1
      }
      var nRuns = if (rows == 0) 0 else 1
      r = 1
      while (r < rows) { if (eff(r) != eff(r - 1)) nRuns += 1; r += 1 }
      val rleBytes = bitmapLen + 4 + nRuns * (4 + width)
      val plainBytes = bitmapLen + width * rows
      if (rows > 0 && rleBytes < plainBytes) {
        val b = ByteBuffer.allocate(rleBytes).order(ByteOrder.LITTLE_ENDIAN)
        putBitmap(b, nulls(i), rows)
        b.putInt(nRuns)
        var start = 0
        r = 1
        while (r <= rows) {
          if (r == rows || eff(r) != eff(start)) {
            b.putInt(r - start)
            if (width == 8) b.putLong(eff(start)) else b.putInt(eff(start).toInt)
            start = r
          }
          r += 1
        }
        (b, "rle")
      } else {
        val b = ByteBuffer.allocate(plainBytes).order(ByteOrder.LITTLE_ENDIAN)
        putBitmap(b, nulls(i), rows)
        r = 0
        while (r < rows) {
          if (width == 8) b.putLong(get(r)) else b.putInt(get(r).toInt)
          r += 1
        }
        (b, "plain")
      }
    }

    /** String segment with an optional dictionary alternative (<= 256
      * distinct values, 1-byte codes): layout [bitmap][d:int32]
      * [offsets int32*(d+1)][dict bytes][codes 1B*rows]. The reader
      * decodes it as a LAZY vector dictionary (parquet's trick) — ids
      * fill the vector, strings materialize only when actually read.
      */
    private def encodeString(i: Int): (ByteBuffer, String) = {
      val bitmapLen = (rows + 7) / 8
      var strBytes = 0
      var r = 0
      while (r < rows) {
        if (!nulls(i)(r)) strBytes += strs(i)(r).length; r += 1
      }
      // attempt the dictionary: value-equality via UTF8String keys
      val index = new java.util.LinkedHashMap[UTF8String, Integer]()
      val codes = new Array[Int](rows)
      var fits = rows > 0
      r = 0
      while (fits && r < rows) {
        if (!nulls(i)(r)) {
          val k = UTF8String.fromBytes(strs(i)(r))
          var c = index.get(k)
          if (c == null) {
            if (index.size() >= 256) fits = false
            else { c = index.size(); index.put(k, c) }
          }
          if (fits) codes(r) = c
        }
        r += 1
      }
      val d = index.size()
      var dictBytes = 0
      index.forEach((k, _) => dictBytes += k.numBytes())
      val dictTotal = bitmapLen + 4 + 4 * (d + 1) + dictBytes + rows
      val plainTotal = bitmapLen + 4 * (rows + 1) + strBytes
      if (fits && dictTotal < plainTotal) {
        val b = ByteBuffer.allocate(dictTotal).order(ByteOrder.LITTLE_ENDIAN)
        putBitmap(b, nulls(i), rows)
        b.putInt(d)
        var acc = 0
        b.putInt(0)
        index.forEach((k, _) => { acc += k.numBytes(); b.putInt(acc) })
        index.forEach((k, _) => b.put(k.getBytes))
        r = 0
        while (r < rows) { b.put(codes(r).toByte); r += 1 }
        (b, "dict")
      } else {
        val b = ByteBuffer.allocate(plainTotal).order(ByteOrder.LITTLE_ENDIAN)
        putBitmap(b, nulls(i), rows)
        var acc = 0
        b.putInt(0)
        r = 0
        while (r < rows) {
          if (!nulls(i)(r)) acc += strs(i)(r).length
          b.putInt(acc); r += 1
        }
        r = 0
        while (r < rows) {
          if (!nulls(i)(r)) b.put(strs(i)(r)); r += 1
        }
        (b, "plain")
      }
    }

    /** Encode + append every column segment; returns the block's meta.
      * Per-segment encoding is AUTOMATIC and size-gated: strings take a
      * dictionary when <= 256 distinct values shrink the segment,
      * int/long/date/timestamp take RLE when runs do; everything else
      * (and every loser) stays the plain memcpy layout. The footer tags
      * each segment, so old files (untagged = plain) read unchanged.
      */
    def writeTo(chan: java.nio.channels.FileChannel,
                codec: String = "none"): BlockMeta = {
      val metas = new Array[ColMeta](n)
      var i = 0
      while (i < n) {
        val off = chan.position()
        val bitmapLen = (rows + 7) / 8
        val f = schema.fields(i)
        val (payload: ByteBuffer, enc: String) = f.dataType match {
          case LongType | TimestampType | TimestampNTZType =>
            encodeFixed(i, 8, r => longs(i)(r))
          case IntegerType | DateType =>
            encodeFixed(i, 4, r => ints(i)(r).toLong)
          case DoubleType =>
            val b = ByteBuffer.allocate(bitmapLen + 8 * rows)
              .order(ByteOrder.LITTLE_ENDIAN)
            putBitmap(b, nulls(i), rows)
            var r = 0; while (r < rows) { b.putDouble(dbls(i)(r)); r += 1 }
            (b, "plain")
          case BooleanType =>
            val b = ByteBuffer.allocate(bitmapLen * 2)
              .order(ByteOrder.LITTLE_ENDIAN)
            putBitmap(b, nulls(i), rows)
            putBitmap(b, bools(i), rows)
            (b, "plain")
          case StringType => encodeString(i)
          case dt => throw new IllegalStateException(s"unreachable: $dt")
        }
        payload.flip()
        val rawLen = payload.limit()
        if (codec == "none") {
          while (payload.hasRemaining) chan.write(payload)
        } else {
          // per-SEGMENT compression: the unit of IO stays one (block,
          // column), so pruning and column skipping are unaffected
          val comp = ColumnarFormat.compress(codec,
            java.util.Arrays.copyOf(payload.array(), rawLen))
          val cb = ByteBuffer.wrap(comp)
          while (cb.hasRemaining) chan.write(cb)
        }
        metas(i) = ColMeta(off, chan.position() - off, nullCountOf(i),
          minOf(i), maxOf(i), rawLen.toLong, enc, bloomOf(i))
        i += 1
      }
      BlockMeta(rows, metas)
    }

    private def putBitmap(b: ByteBuffer, bits: Array[Boolean],
                          len: Int): Unit = {
      var byteI = 0
      while (byteI * 8 < len) {
        var v = 0
        var k = 0
        while (k < 8 && byteI * 8 + k < len) {
          if (bits(byteI * 8 + k)) v |= (1 << k); k += 1
        }
        b.put(v.toByte)
        byteI += 1
      }
    }

    /** Opt-in per-block bloom over the column's non-null values:
      * 1 byte/row (min 64 bits), k = BloomK — ~2-3% false keeps at the
      * point predicates zone maps cannot answer on unsorted columns.
      */
    private def bloomOf(i: Int): Option[Array[Byte]] = {
      val f = schema.fields(i)
      if (!bloomFor.contains(f.name) || rows == 0) return None
      val ok = f.dataType match {
        case IntegerType | DateType | LongType | TimestampType |
             TimestampNTZType | StringType => true
        case _ => false
      }
      if (!ok) return None
      val bits = new Array[Byte](math.max(8, rows))
      var r = 0
      while (r < rows) {
        if (!nulls(i)(r)) {
          val bytes = f.dataType match {
            case StringType => strs(i)(r)
            case IntegerType | DateType =>
              ColumnarFormat.bloomCanonical(ints(i)(r)).get
            case _ => ColumnarFormat.bloomCanonical(longs(i)(r)).get
          }
          ColumnarFormat.bloomAdd(bits, bytes)
        }
        r += 1
      }
      Some(bits)
    }

    private def nullCountOf(i: Int): Int = {
      var c = 0; var r = 0
      while (r < rows) { if (nulls(i)(r)) c += 1; r += 1 }
      c
    }

    private def minMax(i: Int, wantMin: Boolean): Option[Any] = {
      val f = schema.fields(i)
      var out: Option[Any] = None
      var r = 0
      while (r < rows) {
        if (!nulls(i)(r)) {
          f.dataType match {
            case LongType | TimestampType | TimestampNTZType =>
              val v = longs(i)(r)
              out = Some(out.fold(v)(o => if (wantMin) math.min(o.asInstanceOf[Long], v)
                else math.max(o.asInstanceOf[Long], v)))
            case IntegerType | DateType =>
              val v = ints(i)(r)
              out = Some(out.fold(v)(o => if (wantMin) math.min(o.asInstanceOf[Int], v)
                else math.max(o.asInstanceOf[Int], v)))
            case DoubleType =>
              val v = dbls(i)(r)
              // parquet convention: a segment containing NaN gets NO
              // zone map at all — NaN poisons the min/max ordering
              // (Double.compare puts it greatest) and would silently
              // prune blocks whose real values match
              if (java.lang.Double.isNaN(v)) return None
              out = Some(out.fold(v)(o => if (wantMin) math.min(o.asInstanceOf[Double], v)
                else math.max(o.asInstanceOf[Double], v)))
            case StringType =>
              val v = UTF8String.fromBytes(strs(i)(r))
              out = Some(out.fold[Any](v.toString) { o =>
                val c = UTF8String.fromString(o.asInstanceOf[String]).compareTo(v)
                if ((wantMin && c <= 0) || (!wantMin && c >= 0)) o else v.toString
              })
            case _ => () // boolean: no zone map
          }
        }
        r += 1
      }
      out
    }
    private def minOf(i: Int): Option[Any] = minMax(i, wantMin = true)
    private def maxOf(i: Int): Option[Any] = minMax(i, wantMin = false)
  }

  // ---- block decode (executor side) ------------------------------------

  /** RLE expansion into the vector: one bulk fill per run. */
  private def decodeRleFixed(
      v: org.apache.spark.sql.execution.vectorized.WritableColumnVector,
      bytes: Array[Byte], bitmapLen: Int, width: Int): Unit = {
    val buf = ByteBuffer.wrap(bytes, bitmapLen, bytes.length - bitmapLen)
      .order(ByteOrder.LITTLE_ENDIAN)
    val nRuns = buf.getInt()
    var row = 0
    var run = 0
    while (run < nRuns) {
      val len = buf.getInt()
      if (width == 8) v.putLongs(row, len, buf.getLong())
      else v.putInts(row, len, buf.getInt())
      row += len
      run += 1
    }
  }

  /** Read ONLY the partition's column byte ranges and fill on-heap
    * vectors; the bulk fills (`putLongs`/`putInts`/`putDoubles`) are the
    * little-endian memcpy overloads, so decode is byte-copy speed.
    */
  def decodeBlock(part: GcolBlockDesc, schema: StructType,
                  nMeta: Int = 0): ColumnarBatch = {
    val rows = part.rows
    val vectors = OnHeapColumnVector.allocateColumns(rows, schema)
    // synthesize the TRAILING nMeta metadata fields (zero disk bytes
    // behind them); the split is by count — a data column may carry a
    // reserved name and must still be read from disk
    val dataLen = schema.length - nMeta
    var m = dataLen
    while (m < schema.length) {
      val v = vectors(m)
      schema.fields(m).name match {
        case MetaFile =>
          val bytes = Paths.get(part.path).getFileName.toString
            .getBytes(StandardCharsets.UTF_8)
          var r = 0
          while (r < rows) { v.putByteArray(r, bytes, 0, bytes.length); r += 1 }
        case MetaBlock =>
          v.putInts(0, rows, part.blockIdx)
        case _ => // MetaPos
          var r = 0
          while (r < rows) { v.putInt(r, r); r += 1 }
      }
      m += 1
    }
    val raf = new RandomAccessFile(part.path, "r")
    try {
      var i = 0
      while (i < dataLen) {
        if (part.offs(i) < 0) {
          // ABSENT sentinel: the column was added to the table schema
          // after this file was written — all-null vector of the table
          // type, zero disk bytes behind it (the add-column contract)
          vectors(i).putNulls(0, rows)
          i += 1
        } else {
        val len = part.lens(i).toInt
        val buf = ByteBuffer.allocate(len)
        var read = 0
        while (read < len) {
          val k = raf.getChannel.read(buf, part.offs(i) + read)
          require(k > 0, s"${part.path}: truncated column segment")
          read += k
        }
        val bytes =
          if (part.codec == "none") buf.array()
          else decompress(part.codec, buf.array(), part.rawLens(i).toInt)
        val bitmapLen = (rows + 7) / 8
        val v = vectors(i)
        val enc = part.encOf(i)
        schema.fields(i).dataType match {
          case LongType | TimestampType | TimestampNTZType =>
            if (enc == "rle") decodeRleFixed(v, bytes, bitmapLen, width = 8)
            else v.putLongs(0, rows, bytes, bitmapLen)
          case IntegerType | DateType =>
            if (enc == "rle") decodeRleFixed(v, bytes, bitmapLen, width = 4)
            else v.putInts(0, rows, bytes, bitmapLen)
          case DoubleType =>
            v.putDoubles(0, rows, bytes, bitmapLen)
          case BooleanType =>
            var r = 0
            while (r < rows) {
              v.putBoolean(r, (bytes(bitmapLen + r / 8) & (1 << (r % 8))) != 0)
              r += 1
            }
          case StringType if enc == "dict" =>
            // lazy vector dictionary: ids fill now, string bytes
            // materialize only when a row is actually read
            val buf = ByteBuffer.wrap(bytes, bitmapLen,
              bytes.length - bitmapLen).order(ByteOrder.LITTLE_ENDIAN)
            val d = buf.getInt()
            val offs = new Array[Int](d + 1)
            var k = 0
            while (k <= d) { offs(k) = buf.getInt(); k += 1 }
            val dataStart = bitmapLen + 4 + 4 * (d + 1)
            val dict = new Array[Array[Byte]](d)
            k = 0
            while (k < d) {
              dict(k) = java.util.Arrays.copyOfRange(bytes,
                dataStart + offs(k), dataStart + offs(k + 1))
              k += 1
            }
            val codeStart = dataStart + offs(d)
            val ids = v.reserveDictionaryIds(rows)
            var r = 0
            while (r < rows) {
              ids.putInt(r, bytes(codeStart + r) & 0xFF)
              r += 1
            }
            v.setDictionary(new GcolBinaryDictionary(dict))
          case StringType =>
            val offs = ByteBuffer.wrap(bytes, bitmapLen, 4 * (rows + 1))
              .order(ByteOrder.LITTLE_ENDIAN)
            val dataStart = bitmapLen + 4 * (rows + 1)
            var prev = offs.getInt()
            var r = 0
            while (r < rows) {
              val cur = offs.getInt()
              v.putByteArray(r, bytes, dataStart + prev, cur - prev)
              prev = cur
              r += 1
            }
          case dt => throw new IllegalStateException(s"unreachable: $dt")
        }
        // nulls AFTER values: putNull only flips the flag
        var r = 0
        while (r < rows) {
          if ((bytes(r / 8) & (1 << (r % 8))) != 0) v.putNull(r)
          r += 1
        }
        i += 1
        }
      }
      new ColumnarBatch(vectors.toArray[ColumnVector], rows)
    } finally raf.close()
  }
}
