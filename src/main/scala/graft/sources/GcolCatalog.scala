package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A PATH-BASED `TableCatalog` + `FunctionCatalog` for graft-columnar
  * directories — the missing half of BUCKET-transform storage-partitioned
  * joins (r15 verdict item #4).
  *
  * Why a catalog at all: a scan can report
  * `KeyGroupedPartitioning(bucket(N, key))`, but Spark resolves the
  * `bucket` V2 function through `DataSourceV2Relation.funCatalog` — the
  * catalog the table was LOADED from. A `format("graft-columnar")` read
  * has no catalog, so the transform stays unresolved and Spark falls
  * back to shuffle plans (sound, never optimized). Register this
  * catalog and read through it:
  *
  *   spark.conf.set("spark.sql.catalog.gcol",
  *     "graft.sources.GcolCatalog")
  *   spark.table("gcol.`/data/orders_bucketed`")
  *
  * The identifier IS the directory path (stateless catalog, no
  * namespace registry): `loadTable` resolves the backtick-quoted name to
  * the on-disk gcol directory — the same contract as
  * `parquet.`/path/``-style path tables in the engine itself.
  *
  * The `bucket(N, key)` function: id = ((key % N) + N) % N on the
  * int/bigint key — EXACTLY what a writer materializes as
  * `pmod(key, N)` for the `clusterBy` column declared via the
  * `bucketSpec` write option. Both join sides bound to this one
  * function (same canonical name, same N) is what lets Spark align
  * bucket ids across tables whose VALUE sets differ — the co-partition
  * case identity clustering cannot express. Deliberately modulo, not a
  * hash: the id is human-predictable and the DuckDB oracle twin is
  * `key % N`, so layouts stay hash-checkable cross-engine.
  *
  * Scale shape: `loadTable` is one footer read (schema); everything
  * else rides the existing connector. DDL methods are refused — tables
  * are directories written through the DataFrame writer; the catalog
  * is a RESOLUTION surface, not a metastore.
  */
class GcolCatalog extends TableCatalog with FunctionCatalog {
  private var catName = "gcol"

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit =
    catName = name
  override def name(): String = catName

  /** namespace segments + name re-join into the filesystem path (a
    * backtick-quoted absolute path arrives as name-only).
    */
  private def dirOf(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString("/")

  override def loadTable(ident: Identifier): Table = {
    val dir = dirOf(ident)
    if (!tableExists(ident))
      throw new NoSuchTableException(ident)
    new GcolTable(dir, ColumnarFormat.tableSchema(dir))
  }

  override def tableExists(ident: Identifier): Boolean =
    GcolSnapshots.headFiles(dirOf(ident)).nonEmpty

  override def listTables(namespace: Array[String]): Array[Identifier] =
    Array.empty // path-addressed: there is no namespace to enumerate

  /** SQL time travel: `VERSION AS OF n` through the snapshot log
    * (GcolSnapshots) — the catalog twin of `option("asOf", n)`.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = dirOf(ident)
    if (!tableExists(ident))
      throw new NoSuchTableException(ident)
    val v = try version.trim.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"gcol VERSION AS OF takes a snapshot number, got `$version`")
    }
    GcolSnapshots.files(dir, v) // fails loudly on unknown/vacuumed
    // read through the schema the snapshot was COMMITTED under, not
    // the current one — later DDL must not leak into the old version
    new GcolTable(dir,
      GcolSnapshots.schemaState(dir, v).map(_._1)
        .getOrElse(ColumnarFormat.tableSchema(dir)),
      Some(v))
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table =
    throw new UnsupportedOperationException(
      "gcol tables are directories: write them with " +
        "df.write.format(\"graft-columnar\").save(path)")

  /** SQL DDL (`ALTER TABLE ... ADD COLUMNS / RENAME COLUMN / DROP
    * COLUMN`) routed to GcolSchemaOps — the metadata-only evolution
    * surface, now reachable from plain SQL through this catalog.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = dirOf(ident)
    if (!tableExists(ident))
      throw new NoSuchTableException(ident)
    changes.foreach {
      case a: TableChange.AddColumn =>
        require(a.fieldNames().length == 1,
          "gcol columns are top-level only")
        require(a.isNullable,
          "added gcol columns must be nullable — pre-DDL files read " +
            "them as null")
        GcolSchemaOps.addColumn(dir, a.fieldNames()(0), a.dataType())
      case r: TableChange.RenameColumn =>
        require(r.fieldNames().length == 1,
          "gcol columns are top-level only")
        GcolSchemaOps.renameColumn(dir, r.fieldNames()(0), r.newName())
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames().length == 1,
          "gcol columns are top-level only")
        GcolSchemaOps.dropColumn(dir, d.fieldNames()(0))
      case other => throw new UnsupportedOperationException(
        s"gcol DDL supports add/rename/drop column only, got $other")
    }
    loadTable(ident)
  }
  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException("gcol tables are directories")
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("gcol tables are directories")

  // ---- FunctionCatalog ---------------------------------------------------

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(Array.empty, "bucket"))

  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.name() == "bucket" && ident.namespace().isEmpty)
      GcolBucketFunction
    else throw new NoSuchFunctionException(ident)
}

/** The `bucket(N, key)` V2 function: both SPJ sides resolve to THIS
  * object, so `TransformExpression.isSameFunction` holds by canonical
  * name and Spark aligns their bucket-id partition values.
  */
object GcolBucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(N, key): ((key % N) + N) % N over an int/bigint key — the " +
      "graft-columnar bucketSpec layout function"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.length == 2,
      s"bucket takes (numBuckets, key), got ${inputType.length} args")
    val kt = inputType.fields(1).dataType
    require(inputType.fields(0).dataType == IntegerType &&
      (kt == IntegerType || kt == LongType),
      s"bucket takes (int, int|bigint), got ${inputType.catalogString}")
    new BoundBucket(kt)
  }

  private[sources] class BoundBucket(keyType: DataType)
      extends ScalarFunction[Integer] {
    override def inputTypes(): Array[DataType] =
      Array(IntegerType, keyType)
    override def resultType(): DataType = IntegerType
    override def isResultNullable: Boolean = false
    override def name(): String = "bucket"
    override def canonicalName(): String = "graft.gcol.bucket"
    override def produceResult(input: InternalRow): Integer = {
      val n = input.getInt(0)
      val k = if (keyType == LongType) input.getLong(1)
        else input.getInt(1).toLong
      (((k % n) + n) % n).toInt
    }
  }
}
