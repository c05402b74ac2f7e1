package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths, StandardCopyOption}
import java.util.UUID

/** SNAPSHOT COMMITS — the one record of a graft-columnar table's live
  * files, the metadata-pointer commit model of Delta/Iceberg:
  *
  *   - `_gcol_snapshots/v{N}.json` lists the data files of version N;
  *     `_gcol_head` holds the current version number and is replaced by
  *     an ATOMIC move — a reader sees the old file set or the new one,
  *     never a mix. A table's first write is v1.
  *   - Every commit (batch append/overwrite, CoW merge, compaction)
  *     writes the next snapshot and moves the head LAST. A failed write
  *     moves no head, so it publishes nothing. Replaced files are KEPT
  *     on disk — an in-flight reader planning from the old head still
  *     finds them, and they back time travel.
  *   - Readers plan from the head snapshot, never from a directory
  *     listing; `option("asOf", "N")` plans any retained version — time
  *     travel for audits/reproducible training runs. A streaming read's
  *     offsets are versions.
  *   - [[vacuum]] deletes files no retained snapshot references (the
  *     explicit GC every snapshot store needs; reading a vacuumed
  *     version fails loudly, never silently partially).
  *
  * Scale shape: a snapshot is O(files) names written once per commit
  * and read once per scan planning — the same driver metadata budget
  * the footer sweep already pays. Snapshots serialize COMMITS, not
  * writers: a version file is published by hard link, so of two
  * committers that read the same head exactly one wins and the other
  * fails; the multi-writer retry story lives in table/VersionedTable.
  */
object GcolSnapshots {

  val SnapshotsSubdir = "_gcol_snapshots"
  val HeadName = "_gcol_head"

  private def snapDir(dir: String): Path =
    Paths.get(dir).resolve(SnapshotsSubdir)
  private def headPath(dir: String): Path = Paths.get(dir).resolve(HeadName)

  /** Current head version; None before the table's first commit. */
  def headVersion(dir: String): Option[Long] =
    if (!Files.exists(headPath(dir))) None
    else Some(new String(Files.readAllBytes(headPath(dir)),
      StandardCharsets.UTF_8).trim.toLong)

  /** The file names of version `v` (relative). Fails loudly on a
    * version that never existed or was dropped by [[vacuum]].
    */
  def files(dir: String, v: Long): Seq[String] = {
    val p = snapDir(dir).resolve(s"v$v.json")
    require(Files.exists(p),
      s"gcol snapshot v$v does not exist at $dir (vacuumed or never " +
        "committed); retained: " + retainedVersions(dir).mkString(","))
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readAllBytes(p))
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    root.get("files").forEach(n => out += n.asText())
    out.toSeq
  }

  /** The head snapshot's files; empty before the first commit. */
  def headFiles(dir: String): Seq[String] =
    headVersion(dir).fold(Seq.empty[String])(files(dir, _))

  def retainedVersions(dir: String): Seq[Long] = {
    val d = snapDir(dir)
    if (!Files.isDirectory(d)) return Nil
    val s = Files.list(d)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString)
        .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
          n.stripPrefix("v").stripSuffix(".json").toLong }
        .toSeq.sorted
    } finally s.close()
  }

  /** The SCHEMA STATE a version was committed under: (schema, rename
    * lineage, whether DDL had run) — what an `asOf` read resolves
    * against, so time travel reproduces the version exactly even after
    * later add/drop/rename DDL. None for a snapshot without files or
    * DDL to take a schema from (read falls back to the current schema).
    */
  def schemaState(dir: String, v: Long)
      : Option[(org.apache.spark.sql.types.StructType, Map[String, Seq[String]], Boolean)] = {
    val p = snapDir(dir).resolve(s"v$v.json")
    if (!Files.exists(p)) return None
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readAllBytes(p))
    if (!root.has("schema")) return None
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(root.get("schema").asText())
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val formers = scala.collection.mutable.Map.empty[String, Seq[String]]
    if (root.has("formers")) {
      val it = root.get("formers").fields()
      while (it.hasNext) {
        val e = it.next()
        val ns = scala.collection.mutable.ArrayBuffer.empty[String]
        e.getValue.forEach(n => ns += n.asText())
        formers(e.getKey) = ns.toSeq
      }
    }
    Some((schema, formers.toMap,
      root.has("evolved") && root.get("evolved").asBoolean()))
  }

  /** Write version head+1 with `names` and move the head pointer —
    * the ATOMIC publish every commit path routes through. `expectedHead`
    * guards against a lost-update between read and commit, and the
    * version file is published by hard link, so a second committer that
    * read the same head fails here instead of overwriting the first's
    * version. The commit-time schema state rides along so `asOf` reads
    * resolve against it.
    */
  def commit(dir: String, names: Seq[String],
             expectedHead: Option[Long]): Long = {
    val cur = headVersion(dir)
    require(cur == expectedHead,
      s"snapshot head moved: expected $expectedHead, found $cur — " +
        "another writer committed (single-writer contract violated)")
    val next = cur.getOrElse(0L) + 1L
    Files.createDirectories(snapDir(dir))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("version", next)
    val arr = root.putArray("files")
    names.sorted.foreach(arr.add)
    val state: Option[(org.apache.spark.sql.types.StructType, Map[String, Seq[String]], Boolean)] =
      ColumnarFormat.readSchemaState(dir)
        .map { case (s, f) => (s, f, true) }
        .orElse(names.headOption.map { n =>
          (ColumnarFormat.readFooter(Paths.get(dir).resolve(n)).schema,
            Map.empty[String, Seq[String]], false)
        })
        .orElse(cur.flatMap(schemaState(dir, _)))
    state.foreach { case (s, formers, evolved) =>
      root.put("schema", s.json)
      root.put("evolved", evolved)
      val fn = root.putObject("formers")
      formers.foreach { case (c, olds) =>
        if (olds.nonEmpty) {
          val a = fn.putArray(c)
          olds.foreach(a.add)
        }
      }
    }
    val tmp = snapDir(dir).resolve(s".tmp-${UUID.randomUUID()}.json")
    Files.write(tmp, mapper.writeValueAsBytes(root))
    try Files.createLink(snapDir(dir).resolve(s"v$next.json"), tmp)
    catch {
      case _: FileAlreadyExistsException =>
        throw new IllegalStateException(
          s"gcol snapshot v$next of $dir was committed by another writer " +
            s"(this commit read head $cur)")
    } finally Files.deleteIfExists(tmp)
    // the pointer swap is the commit: tmp + ATOMIC_MOVE on one file
    val headTmp = Paths.get(dir).resolve(s"$HeadName.tmp-${UUID.randomUUID()}")
    Files.write(headTmp, next.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(headTmp, headPath(dir), StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
    next
  }

  /** Files ADDED between two versions — the file-level change feed: for
    * append-mostly pipelines (ingest, journaling sinks) the rows of the
    * added files ARE the logical increment, so an incremental consumer
    * reads exactly
    * `option("files", addedFiles(dir, lastSeen, head)).load(dir)`
    * instead of re-scanning the table (the Delta CDF shape, at file
    * granularity: O(delta), not O(table)). `from = 0` is the empty
    * table before v1. For CoW rewrites the added files also carry the
    * surviving rows of the replaced files — consumers that need
    * row-level +/- diff against [[removedFiles]]'s content, both still
    * O(churn).
    */
  def addedFiles(dir: String, from: Long, to: Long): Seq[String] = {
    val before = (if (from == 0L) Nil else files(dir, from)).toSet
    files(dir, to).filterNot(before.contains)
  }

  /** Files REMOVED between two retained versions (CoW replacements). */
  def removedFiles(dir: String, from: Long, to: Long): Seq[String] = {
    val after = files(dir, to).toSet
    files(dir, from).filterNot(after.contains)
  }

  /** Drop all snapshots but the newest `keepLast` and DELETE data files
    * no retained snapshot references — the explicit storage reclaim.
    * Returns the deleted data file names.
    */
  def vacuum(dir: String, keepLast: Int = 1): Seq[String] = {
    require(keepLast >= 1, "must keep at least the head snapshot")
    val versions = retainedVersions(dir)
    require(versions.nonEmpty, s"no gcol table at $dir")
    val keep = versions.takeRight(keepLast)
    val drop = versions.dropRight(keepLast)
    val live: Set[String] = keep.flatMap(files(dir, _)).toSet
    val dead = ColumnarFormat.listFiles(dir)
      .map(_.getFileName.toString).filterNot(live.contains)
    dead.foreach(n => Files.deleteIfExists(Paths.get(dir).resolve(n)))
    drop.foreach(v =>
      Files.deleteIfExists(snapDir(dir).resolve(s"v$v.json")))
    dead
  }
}
