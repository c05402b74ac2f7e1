package graft.sources

import java.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, WriteBuilder}
import org.apache.spark.sql.sources.{DataSourceRegister, InsertableRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.table.VersionedTable

/** DataSource V2 WRITE connector for [[VersionedTable]], the write half of
  * the `graft-table-log` read connector. It is a thin front: each write
  * hands its frame to the table's one transactional write path.
  *
  *   df.write.format("graft-table").mode("append").save(root)      // VersionedTable.append
  *   df.write.format("graft-table").mode("overwrite").save(root)   // VersionedTable.overwrite
  *
  * Append and overwrite are the only modes. Spark first resolves the
  * frame against the table's logged schema BY NAME (its
  * TableOutputResolver), so a missing column or an unsafe cast is
  * rejected before any task runs, and a connector write never narrows or
  * reorders the table; schema evolution stays on the programmatic API.
  * The resolved frame then reaches [[VersionedTable]] through a
  * [[V1Write]], the route Delta's own DataSource V2 table takes. So a
  * connector write IS the programmatic call: one version per write, CHECK
  * constraints validated before any file is written (a violation
  * publishes nothing), rows and stats gathered in the write job, a lost
  * append race retried and a lost overwrite race propagated as
  * [[graft.table.CommitConflictException]].
  *
  * Behaviour that differs from the connector's former per-task writer:
  *   - a write logs ONE add entry, `data/<uuid>` like every other write
  *     (was one `data/dsv2-<uuid>/part-*` entry per task);
  *   - an empty append commits a 0-row version, as `append` does (it
  *     published nothing);
  *   - every type `append` can write is accepted (was a closed mapping of
  *     flat primitive types);
  *   - an append no longer rewrites the logged schema.
  */
class GraftTableSink extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-table"

  private def rootOf(path: String): String = {
    require(path != null && path.nonEmpty,
      "graft-table requires a path (the VersionedTable root)")
    path
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val root = rootOf(options.get("path"))
    val t = VersionedTable.open(root)
    t.schemaOf(t.latestVersion).getOrElse(throw new IllegalArgumentException(
      s"table at $root logs no schema; create it via VersionedTable.create " +
        "before writing through the connector"))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new GraftWritableTable(rootOf(properties.get("path")), schema)
}

private[sources] class GraftWritableTable(root: String, tblSchema: StructType)
    extends Table with SupportsWrite {
  // no backticks/dots: Spark re-parses this name as an attribute when
  // rendering write-resolution errors
  override def name(): String = "graft_table_" +
    root.replaceAll("[^A-Za-z0-9_]", "_")
  override def schema(): StructType = tblSchema
  // BATCH_WRITE as well: with V1_BATCH_WRITE alone, DataFrameWriter.save
  // falls back to the V1 path, which rejects create-table-as-select
  override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
    TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(root)
}

private[sources] class GraftWriteBuilder(root: String)
    extends WriteBuilder with SupportsTruncate {
  private var replace = false
  override def truncate(): WriteBuilder = { replace = true; this }
  // Spark's V1 fallback always passes overwrite = false; truncate() is
  // what carries the mode
  override def build(): V1Write = () => new InsertableRelation {
    override def insert(data: DataFrame, overwrite: Boolean): Unit = {
      val t = VersionedTable.open(root)
      if (replace) t.overwrite(data, t.latestVersion) else t.append(data)
    }
  }
}
