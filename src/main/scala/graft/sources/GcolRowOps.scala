package graft.sources

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row-level operations on a graft-columnar directory: MERGE (and its
  * DELETE convenience) as distributed COPY-ON-WRITE of the affected
  * files — the row-mutation rung the DSv2 connector was missing beside
  * the transactional VersionedTable (table/VersionedTable.scala, whose
  * q62/q105 full-outer change algebra this reuses verbatim).
  *
  * The change contract is q62's (ops/Relational.scala): `changes` carries
  * the key column, an `op` column (`"U"` patches or inserts, `"D"`
  * deletes), and one patch column per updatable table column (`patch:
  * tableCol -> changesCol`); a `"U"` whose key is absent from the table
  * inserts a row built from the patch columns (unpatched columns NULL).
  *
  * How it scales (the copy-on-write discipline, Iceberg/Delta CoW shape):
  *
  *   1. '''Affected files by METADATA''' — each file's footer yields a
  *      (path, key_min, key_max) range row; the distinct change keys
  *      range-join against a BROADCAST of those O(files) rows, so
  *      finding the rewrite set costs one pass over the churn-sized
  *      change set, never a table scan. Only the affected path LIST
  *      (bounded by file count) is collected. Files whose key segment
  *      lacks a zone map are conservatively affected.
  *   2. '''Rewrite only what changed''' — the surviving rows are read
  *      through the connector's `files` option (a scan scoped to the
  *      affected subset; pruning/vectorization all still apply), merged
  *      full-outer with the changes (one shuffle over churn + affected
  *      rows), and written by the NORMAL gcol writer into a scratch
  *      directory — preserving the table's codec and clusterBy layout.
  *      A key in an unaffected file would contradict its zone map, so
  *      joining changes against only the affected rows is complete.
  *   3. '''Publish''' — new files MOVE into the table (names carry the
  *      job uid, collision-free) and one snapshot commit (GcolSnapshots)
  *      swaps the replaced files for them: readers plan from the old
  *      version or the new one, never a mix, and the replaced files stay
  *      on disk for them and for time travel until `vacuum`. A STREAMING
  *      reader sees the rewritten files as fresh arrivals of the new
  *      version (the Delta `ignoreChanges` contract — CoW cannot retract
  *      already-delivered rows). Single-writer contract, like the
  *      format's overwrite path; the transactional multi-writer story
  *      lives in VersionedTable.
  */
object GcolRowOps {

  /** MERGE `changes` into the gcol table at `dir`; returns the relative
    * names of the files the commit published (exactly the files the new
    * snapshot version adds).
    */
  def merge(spark: SparkSession, dir: String, changes: DataFrame,
            key: String, patch: Map[String, String]): Seq[String] = {
    // the table's CURRENT file universe: the head snapshot
    val all = ColumnarFormat.scopedFiles(dir, None)
    require(all.nonEmpty, s"no gcol table at $dir")
    require(isEmpty(posDeletesDir(dir)),
      "pending position deletes: a rewrite would invalidate their row " +
        s"addresses — apply them first (GcolRowOps.compactPos($dir))")
    require(isEmpty(posUpsertsDir(dir)),
      "pending position-update rows: a rewrite would not carry them — " +
        s"apply them first (GcolRowOps.compactPos($dir))")
    val headFooter = ColumnarFormat.readFooter(all.head)
    // the EVOLVED table schema (add/drop/rename DDL) — the rewrite
    // reads through the connector, which resolves old files through
    // the lineage, and writes the current schema
    val schema = ColumnarFormat.tableSchema(dir)
    val lin = ColumnarFormat.lineage(dir)
    require(schema.fieldNames.contains(key), s"key `$key` not in table")

    // 1) affected files: change keys range-joined vs broadcast footer
    //    ranges (file-level min/max over the key's block zone maps)
    val ranges = all.map { f =>
      val ft = ColumnarFormat.readFooter(f)
      ColumnarFormat.resolveName(ft.schema, key, lin)
        .flatMap(n => ColumnarFormat.fieldIdx(ft.schema, n)) match {
        case None =>
          // the key column postdates this file: every row's key is
          // null there — conservatively affected (a rewrite folds the
          // evolved schema in as a side effect)
          (f.getFileName.toString, None, true)
        case Some(ki) =>
          val mins = ft.blocks.flatMap(_.cols(ki).min)
          val maxs = ft.blocks.flatMap(_.cols(ki).max)
          val conservative = ft.blocks.exists(b =>
            b.cols(ki).min.isEmpty && b.cols(ki).nullCount < b.rows)
          (f.getFileName.toString,
            if (mins.isEmpty) None
            else Some((mins.min(ColumnarFormat.anyOrdering(
              ft.schema.fields(ki).dataType)),
              maxs.max(ColumnarFormat.anyOrdering(
                ft.schema.fields(ki).dataType)))),
            conservative)
      }
    }
    val alwaysAffected = ranges.collect {
      case (n, None, _) => n
      case (n, _, true) => n
    }.toSet
    val keyField = schema.fields(schema.fieldIndex(key))
    // footer zone-map values are the INTERNAL representations (days for
    // dates, micros for timestamps); createDataFrame takes EXTERNAL
    // java.sql/java.time values — convert, or date/timestamp-keyed
    // merges throw "not a valid external type" (r15 ADVICE)
    def external(v: Any): Any = keyField.dataType match {
      case DateType =>
        org.apache.spark.sql.catalyst.util.DateTimeUtils
          .toJavaDate(v.asInstanceOf[Int])
      case TimestampType =>
        org.apache.spark.sql.catalyst.util.DateTimeUtils
          .toJavaTimestamp(v.asInstanceOf[Long])
      case TimestampNTZType =>
        org.apache.spark.sql.catalyst.util.DateTimeUtils
          .microsToLocalDateTime(v.asInstanceOf[Long])
      case _ => v
    }
    val rangeRows = ranges.collect { case (n, Some((mn, mx)), false) =>
      org.apache.spark.sql.Row(n, external(mn), external(mx))
    }
    val rangeSchema = StructType(Seq(
      org.apache.spark.sql.types.StructField("_gcol_path",
        org.apache.spark.sql.types.StringType),
      keyField.copy(name = "_gcol_kmin"), keyField.copy(name = "_gcol_kmax")))
    val rangeDf = spark.createDataFrame(
      java.util.Arrays.asList(rangeRows: _*), rangeSchema)
    val rangeAffected =
      if (rangeRows.isEmpty) Seq.empty[String]
      else changes.select(col(key)).distinct()
        .join(broadcast(rangeDf),
          col(key) >= col("_gcol_kmin") && col(key) <= col("_gcol_kmax"))
        .select("_gcol_path").distinct()
        .collect().map(_.getString(0)).toSeq // bounded by FILE count
    val affected = (alwaysAffected ++ rangeAffected).toSeq.sorted

    // 2) rewrite: surviving rows of the affected subset, q62 algebra
    val current =
      if (affected.isEmpty)
        spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
      else spark.read.format("graft-columnar")
        .option("files", affected.mkString(",")).load(dir)
    val merged = current.join(changes, Seq(key), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(schema.fields.map { f =>
        if (f.name == key) col(key).cast(f.dataType).as(key)
        else patch.get(f.name) match {
          case Some(pc) =>
            coalesce(col(pc), col(f.name)).cast(f.dataType).as(f.name)
          case None => col(f.name).cast(f.dataType).as(f.name)
        }
      }.toSeq: _*)

    // scratch write through the normal writer, same layout knobs
    val scratch = Files.createTempDirectory("gcol_merge").toString
    val w3 = withLayout(
      merged.write.format("graft-columnar").mode("overwrite"), dir, headFooter)
    w3.save(scratch)

    // 3) publish: one snapshot commit swaps the affected files out
    publish(dir, scratch, affected)
  }

  /** Shared CoW publish tail: move the scratch table's files in and
    * commit the next snapshot with them in place of `affected` (which
    * stay on disk for older versions). Returns the published names.
    */
  private def publish(dir: String, scratch: String,
                      affected: Seq[String]): Seq[String] = {
    val root = Paths.get(dir)
    val head = GcolSnapshots.headVersion(dir)
    val newRel = GcolSnapshots.headFiles(scratch)
    newRel.foreach(rel => Files.move(Paths.get(scratch).resolve(rel), root.resolve(rel)))
    val base = head.fold(Seq.empty[String])(GcolSnapshots.files(dir, _))
      .filterNot(affected.contains)
    GcolSnapshots.commit(dir, base ++ newRel, expectedHead = head)
    deleteDirQuiet(Paths.get(scratch))
    newRel
  }

  /** DELETE rows matching `predicate` (a SQL expression over the table's
    * columns): builds q62-style `"D"` changes from a scoped scan, then
    * merges — the scan, not the driver, evaluates the predicate.
    */
  def delete(spark: SparkSession, dir: String, key: String,
             predicate: String): Seq[String] = {
    val victims = spark.read.format("graft-columnar").load(dir)
      .filter(expr(predicate))
      .select(col(key), lit("D").as("op"))
    merge(spark, dir, victims, key, Map.empty)
  }

  /** Merge-on-read sidecar: deleted KEYS live under `_gcol_deletes/`
    * (itself a gcol table, invisible to the main scan — its files are in
    * no snapshot of the table). The MoR trade vs
    * [[merge]]'s copy-on-write is Iceberg v2's: a delete WRITES only
    * the churn-sized key list (no data file rewritten), and every READ
    * pays a key anti-join until [[compact]] folds the sidecar back in
    * — choose MoR for delete-heavy/read-light tables, CoW for the
    * opposite. At scale the anti-join build side is the delete set:
    * churn-sized, broadcast by the planner off the scan's reported
    * statistics.
    */
  val DeletesSubdir = "_gcol_deletes"

  private def deletesDir(dir: String): String =
    Paths.get(dir).resolve(DeletesSubdir).toString

  /** MoR DELETE: append the matching keys to the sidecar. No data file
    * is touched — O(churn) write, zero read amplification until read.
    */
  def deleteWhereMoR(spark: SparkSession, dir: String, key: String,
                     predicate: String): Unit = {
    spark.read.format("graft-columnar").load(dir)
      .filter(expr(predicate)).select(col(key))
      .write.format("graft-columnar").mode("append").save(deletesDir(dir))
  }

  /** MoR READ: the table minus the sidecar keys (left anti join). */
  def readMoR(spark: SparkSession, dir: String, key: String): DataFrame = {
    val data = spark.read.format("graft-columnar").load(dir)
    if (isEmpty(deletesDir(dir))) data
    else data.join(
      spark.read.format("graft-columnar").load(deletesDir(dir))
        .select(col(key)).distinct(),
      Seq(key), "left_anti")
  }

  /** POSITION-delete sidecar (`_gcol_pos_deletes/`): rows addressed by
    * the metadata columns (file, block, pos) instead of a key — the
    * Iceberg position-delete twin of [[deleteWhereMoR]]'s equality
    * deletes. The difference matters exactly when no unique key exists:
    * a predicate can name one physical row among value-identical
    * duplicates, which no key anti-join can. Addresses survive because
    * data files are immutable until a rewrite (merge/compact), which
    * would invalidate them — so those paths refuse while position
    * deletes are pending.
    */
  val PosDeletesSubdir = "_gcol_pos_deletes"

  private def posDeletesDir(dir: String): String =
    Paths.get(dir).resolve(PosDeletesSubdir).toString

  private val addr = Seq("_gcol_file", "_gcol_block", "_gcol_pos")

  /** MoR position DELETE: record the ADDRESSES of rows matching the
    * predicate. Key-free — works on tables with no unique column.
    */
  def deleteWherePos(spark: SparkSession, dir: String,
                     predicate: String): Unit = {
    spark.read.format("graft-columnar").load(dir)
      .filter(expr(predicate))
      .select(addr.map(col): _*)
      .write.format("graft-columnar").mode("append").save(posDeletesDir(dir))
  }

  /** POSITION-UPDATE vectors (`_gcol_pos_upserts/`): a row UPDATE as a
    * delete+insert pair riding the position sidecars — the addressed
    * old row joins the delete vector and its patched replacement lands
    * in an upsert sidecar (a gcol table with the data schema). NO data
    * file is rewritten: a one-column UPDATE stops paying [[merge]]'s
    * whole-file CoW rewrite (r15 verdict item #3; Iceberg v2's MoR
    * update shape). Reads compose both sidecars; [[compactPos]] folds
    * them back into data files.
    */
  val PosUpsertsSubdir = "_gcol_pos_upserts"

  private def posUpsertsDir(dir: String): String =
    Paths.get(dir).resolve(PosUpsertsSubdir).toString

  /** MoR position UPDATE: rows matching `predicate` get each `set`
    * column replaced by its SQL expression (evaluated over the old
    * row). O(churn) writes: the old addresses append to the delete
    * vector, the patched rows to the upsert sidecar. One pending
    * update batch at a time (refuses on non-empty sidecars): the
    * patch expressions evaluate against BASE rows, so stacking a
    * second batch on un-compacted state would fork two replacements
    * from one original. Compact between batches — the same
    * serialize-commits contract the CoW path's single-writer rule
    * already imposes.
    */
  def updateWherePos(spark: SparkSession, dir: String, predicate: String,
                     set: Map[String, String]): Unit = {
    require(isEmpty(posDeletesDir(dir)) && isEmpty(posUpsertsDir(dir)),
      "pending position deletes/updates: compactPos first — patch " +
        "expressions evaluate against base rows, so batches must not stack")
    val schema = ColumnarFormat.tableSchema(dir)
    set.keys.foreach(c => require(schema.fieldNames.contains(c),
      s"set column `$c` not in table"))
    val victims = spark.read.format("graft-columnar").load(dir)
      .filter(expr(predicate))
    // resolve BOTH frames (predicate and every set expression) before
    // any sidecar write: select() analyzes eagerly, so a typo'd patch
    // expression throws HERE — with zero sidecar state written —
    // instead of after the delete vector already committed (which
    // would silently drop the matched rows and block the retry)
    val deletes = victims.select(addr.map(col): _*)
    val replacement = victims.select(schema.fields.map { f =>
      set.get(f.name) match {
        case Some(e) => expr(e).cast(f.dataType).as(f.name)
        case None => col(f.name)
      }
    }.toSeq: _*)
    deletes.write.format("graft-columnar").mode("append")
      .save(posDeletesDir(dir))
    replacement.write.format("graft-columnar").mode("append")
      .save(posUpsertsDir(dir))
  }

  /** MoR READ with position deletes AND updates applied: anti-join on
    * the row address, then the upsert rows union in; metadata columns
    * dropped from the result. Composes with the equality sidecar when
    * both exist.
    */
  def readMoRPos(spark: SparkSession, dir: String): DataFrame = {
    val data = spark.read.format("graft-columnar").load(dir)
    val dataCols = data.columns.toSeq
    val base =
      if (isEmpty(posDeletesDir(dir))) data
      else data.select((dataCols ++ addr).map(col): _*)
        .join(spark.read.format("graft-columnar").load(posDeletesDir(dir))
          .select(addr.map(col): _*).distinct(),
          addr, "left_anti")
        .select(dataCols.map(col): _*)
    if (isEmpty(posUpsertsDir(dir))) base
    else base.unionAll(
      spark.read.format("graft-columnar").load(posUpsertsDir(dir))
        .select(dataCols.map(col): _*))
  }

  /** Fold the delete sidecar into the data files (the CoW [[merge]]
    * path does the rewrite) and clear it — after compaction the PLAIN
    * scan equals the MoR read, and reads stop paying the anti-join.
    */
  def compact(spark: SparkSession, dir: String, key: String): Seq[String] = {
    if (isEmpty(deletesDir(dir))) return Nil
    val changes = spark.read.format("graft-columnar").load(deletesDir(dir))
      .select(col(key)).distinct().withColumn("op", lit("D"))
    val published = merge(spark, dir, changes, key, Map.empty)
    deleteDirQuiet(Paths.get(deletesDir(dir)))
    published
  }

  /** Fold the POSITION sidecars in: rewrite exactly the addressed files
    * without the addressed rows, publish, append the pending UPDATE
    * replacements through the normal writer (which commits them), and
    * clear both sidecars. After this, plain == MoR-pos and
    * [[merge]]/[[compact]] are unblocked.
    */
  def compactPos(spark: SparkSession, dir: String): Seq[String] = {
    val hasDels = !isEmpty(posDeletesDir(dir))
    val hasUps = !isEmpty(posUpsertsDir(dir))
    if (!hasDels && !hasUps) return Nil
    val headFooter = ColumnarFormat.readFooter(
      ColumnarFormat.scopedFiles(dir, None).head)
    val newRel: Seq[String] = if (!hasDels) Nil else {
      val dels = spark.read.format("graft-columnar").load(posDeletesDir(dir))
        .select(addr.map(col): _*).distinct()
      val affected = dels.select("_gcol_file").distinct()
        .collect().map(_.getString(0)).toSeq.sorted // bounded by FILE count
      val current = spark.read.format("graft-columnar")
        .option("files", affected.mkString(",")).load(dir)
      val dataCols = current.columns.toSeq
      val survivors = current.select((dataCols ++ addr).map(col): _*)
        .join(dels, addr, "left_anti")
        .select(dataCols.map(col): _*)
      val scratch = Files.createTempDirectory("gcol_compact_pos").toString
      val w3 = withLayout(
        survivors.write.format("graft-columnar").mode("overwrite"), dir, headFooter)
      w3.save(scratch)
      publish(dir, scratch, affected)
    }
    if (hasUps) {
      // the patched replacement rows land as a NORMAL append: the
      // writer keeps the table's codec/clusterBy layout and commits
      // the new files itself
      val schema = ColumnarFormat.tableSchema(dir)
      val ups = spark.read.format("graft-columnar").load(posUpsertsDir(dir))
        .select(schema.fieldNames.map(col).toSeq: _*)
      val w3 = withLayout(
        ups.write.format("graft-columnar").mode("append"), dir, headFooter)
      w3.save(dir)
    }
    deleteDirQuiet(Paths.get(posDeletesDir(dir)))
    deleteDirQuiet(Paths.get(posUpsertsDir(dir)))
    newRel
  }

  /** SMALL-FILE COMPACTION: bin-pack the table's files below
    * `smallBytes` into ~`targetBytes` outputs — the routine maintenance
    * chore of every streaming/over-parallel ingest (thousands of
    * KB-sized files whose per-file footer/open cost comes to dominate
    * scans; the gcol twin of Layout.compact's parquet version, but
    * published ATOMICALLY through the shared CoW publish: readers flip
    * from the old file set to the compacted one at the head-pointer
    * swap, and the layout knobs (codec, clusterBy,
    * bucketSpec) are preserved so clustered tables keep their
    * storage-partitioned joins. Files already at/above `smallBytes`
    * are left byte-identical. Refuses while position sidecars are
    * pending (a rewrite would invalidate row addresses). Returns the
    * published names (empty = nothing worth compacting).
    *
    * Scale shape: reads exactly the small files (the `files`-scoped
    * scan), one shuffle into ceil(bytes/target) writer tasks —
    * O(small-file bytes), never table-sized.
    */
  def compactFiles(spark: SparkSession, dir: String,
                   targetBytes: Long = 128L * 1024 * 1024,
                   smallBytes: Long = -1L): Seq[String] = {
    require(isEmpty(posDeletesDir(dir)) && isEmpty(posUpsertsDir(dir)),
      "pending position deletes/updates: compactPos first — a rewrite " +
        "would invalidate their row addresses")
    val threshold = if (smallBytes > 0) smallBytes else targetBytes / 2
    val all = ColumnarFormat.scopedFiles(dir, None)
    require(all.nonEmpty, s"no gcol table at $dir")
    val small = all.filter(f => Files.size(f) < threshold)
    if (small.size < 2) return Nil // nothing to gain from one file
    val headFooter = ColumnarFormat.readFooter(all.head)
    val names = small.map(_.getFileName.toString)
    val totalBytes = small.map(Files.size).sum
    val nOut = math.max(1,
      math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val rows = spark.read.format("graft-columnar")
      .option("files", names.mkString(",")).load(dir)
      .repartition(nOut)
    val scratch = Files.createTempDirectory("gcol_compact_files").toString
    val w3 = withLayout(
      rows.write.format("graft-columnar").mode("overwrite"), dir, headFooter)
    w3.save(scratch)
    publish(dir, scratch, names)
  }

  /** Replay the table's layout knobs onto a rewrite's writer, with the
    * clusterBy/bucketSpec column names mapped through the rename
    * lineage to their CURRENT names: the rewrite's frame carries
    * evolved names, so replaying a file-local pre-rename name would be
    * refused by the write builder and every CoW op on a renamed-key
    * table would fail.
    */
  private def withLayout(
      w: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row],
      dir: String, headFooter: ColumnarFormat.Footer) = {
    val currentOf = ColumnarFormat.lineage(dir).flatMap {
      case (cur, olds) => olds.map(_ -> cur)
    }
    val w2 = headFooter.clusterBy.fold(w)(c =>
      w.option("clusterBy", currentOf.getOrElse(c, c)))
    val w3 = headFooter.bucketSpec.fold(w2) { case (k, n) =>
      w2.option("bucketSpec", s"${currentOf.getOrElse(k, k)}:$n") }
    if (headFooter.codec == "none") w3
    else w3.option("codec", headFooter.codec)
  }

  /** Whether the gcol table at `dir` (a sidecar or scratch table) holds
    * no live file — also true before its first commit.
    */
  private def isEmpty(dir: String): Boolean = GcolSnapshots.headFiles(dir).isEmpty

  /** Remove a sidecar or scratch table: data files, snapshot log, head. */
  private def deleteDirQuiet(d: Path): Unit = {
    if (Files.isDirectory(d)) {
      val s = Files.list(d)
      try s.forEach(p => deleteDirQuiet(p)) finally s.close()
    }
    Files.deleteIfExists(d)
  }
}
