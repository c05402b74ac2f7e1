package graft.sources

import org.apache.spark.sql.types._

/** SCHEMA EVOLUTION on a graft-columnar directory — add / drop / rename
  * a column as METADATA-ONLY operations (the Iceberg/Delta DDL rung the
  * format lacked; r15 verdict item #1: the only ladder rung a real
  * long-lived table hits monthly).
  *
  * The mechanism: DDL writes a table-level `_gcol_schema` file
  * (atomically, tmp + move) carrying the CURRENT schema plus each
  * column's former-name lineage. Data files are NEVER touched — old
  * files keep the schema they were written with, and every reader
  * resolves table columns against each file footer through the lineage
  * (ColumnarFormat.resolveField / resolveName):
  *
  *   - '''add''' — the new column resolves to nothing in pre-DDL files
  *     and decodes as an all-null vector (zero disk bytes); appends
  *     written after the DDL carry it natively. Added columns are
  *     forced nullable — old rows have no value to give.
  *   - '''drop''' — the column leaves the table schema; its segments in
  *     old files simply stop being read (column pruning already skips
  *     their bytes). Space is reclaimed lazily by the next CoW rewrite.
  *   - '''rename''' — the current name changes and the old name joins
  *     the lineage; old files keep serving the column under their local
  *     name, INCLUDING zone-map/bloom pruning (the scan pushes filters
  *     through the rename per file) and the clustered-layout detection
  *     (a renamed cluster key keeps its storage-partitioned joins).
  *
  * What is NOT supported, loudly: changing a column's TYPE (resolveField
  * fails if a resolved file column disagrees), and re-using a name any
  * existing data file already carries for a DIFFERENT column (add and
  * rename-target check every footer — without per-file field ids, a
  * recycled name would silently resurrect dropped data).
  *
  * Scale shape: every operation is one O(files) driver-side footer
  * sweep (the same metadata cost any scan's planning pays) plus one
  * small atomic file write — independent of data volume, the property
  * that makes `ALTER TABLE` on a 100 TB table instantaneous.
  */
object GcolSchemaOps {

  /** The table's current schema (evolved if DDL has run, else the head
    * data file's).
    */
  def currentSchema(dir: String): StructType = ColumnarFormat.tableSchema(dir)

  /** Add a nullable column. Old files read it as all-null; new appends
    * carry it natively.
    */
  def addColumn(dir: String, name: String, dataType: DataType): Unit = {
    val (schema, formers) = state(dir)
    require(!schema.fieldNames.contains(name),
      s"column `$name` already exists")
    val f = StructField(name, dataType, nullable = true)
    ColumnarFormat.checkType(f)
    requireNameUnused(dir, name, formers)
    ColumnarFormat.writeSchemaState(dir,
      StructType(schema.fields :+ f), formers)
  }

  /** Drop a column: metadata-only; old segments stop being read. The
    * cluster column is refusable — dropping it would orphan the layout
    * contract the clustered write promised.
    */
  def dropColumn(dir: String, name: String): Unit = {
    val (schema, formers) = state(dir)
    require(schema.fieldNames.contains(name), s"no column `$name`")
    require(schema.length > 1, "cannot drop the last column")
    val clusterNames = ColumnarFormat.scopedFiles(dir, None)
      .flatMap(f => ColumnarFormat.readFooter(f).clusterBy).toSet
    val dropped = name +: formers.getOrElse(name, Nil)
    require(!dropped.exists(clusterNames.contains),
      s"column `$name` is a cluster key of existing data files; " +
        "rewrite the table (compact) before dropping it")
    ColumnarFormat.writeSchemaState(dir,
      StructType(schema.fields.filterNot(_.name == name)),
      formers - name)
  }

  /** Rename a column: the old name joins the lineage (newest first), so
    * old files keep serving — and PRUNING — it under their local name.
    */
  def renameColumn(dir: String, from: String, to: String): Unit = {
    val (schema, formers) = state(dir)
    require(schema.fieldNames.contains(from), s"no column `$from`")
    require(!schema.fieldNames.contains(to),
      s"column `$to` already exists")
    requireNameUnused(dir, to, formers)
    val fields = schema.fields.map { f =>
      if (f.name == from) f.copy(name = to) else f
    }
    val lineage = from +: formers.getOrElse(from, Nil)
    ColumnarFormat.writeSchemaState(dir, StructType(fields),
      (formers - from) + (to -> lineage))
  }

  private def state(dir: String): (StructType, Map[String, Seq[String]]) =
    ColumnarFormat.readSchemaState(dir).getOrElse {
      val files = ColumnarFormat.scopedFiles(dir, None)
      require(files.nonEmpty, s"no gcol table at $dir")
      (ColumnarFormat.readFooter(files.head).schema, Map.empty)
    }

  /** Without per-file field ids, name resolution is the identity axis —
    * a name some existing data file already carries (or that is already
    * claimed by another column's lineage) must not be introduced, or
    * readers would resolve it to the WRONG column's segments.
    */
  private def requireNameUnused(dir: String, name: String,
                                formers: Map[String, Seq[String]]): Unit = {
    require(!formers.values.exists(_.contains(name)),
      s"name `$name` is a former name of an existing column")
    ColumnarFormat.scopedFiles(dir, None).foreach { f =>
      require(!ColumnarFormat.readFooter(f).schema.fieldNames.contains(name),
        s"an existing data file ($f) already carries a column `$name`; " +
          "re-using it would resurrect that data under a new identity")
    }
  }
}
