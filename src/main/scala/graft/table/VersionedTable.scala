package graft.table

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}
import java.util.UUID
import java.util.concurrent.TimeoutException

import scala.collection.immutable.VectorMap
import scala.concurrent.Await
import scala.concurrent.duration.DurationInt
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import com.fasterxml.jackson.databind.util.RawValue

/** Thrown when an optimistic commit loses the race: another writer
  * published the version this transaction targeted. The caller re-reads
  * the new snapshot and retries (or surfaces the conflict).
  */
class CommitConflictException(msg: String) extends RuntimeException(msg)

/** Thrown when a write batch (or, for ADD CONSTRAINT, the existing table)
  * violates an active CHECK constraint. The write publishes nothing.
  */
class ConstraintViolationException(msg: String) extends RuntimeException(msg)

/** A minimal versioned, transactional table over plain parquet — the
  * "Parquet/Delta" capability named in BASELINE.json, built in the style
  * of the PUBLIC Delta Lake transaction-log protocol (an append-only log
  * of JSON commit files describing add/remove actions over immutable
  * data files; no Delta code, just the published idea).
  *
  * Layout under the table root:
  * {{{
  *   _txn_log/00000000000000000000.json   one file PER VERSION, JSON lines:
  *       {"commit":{"version":0,"op":"create","readVersion":-1,
  *                  "statsCol":"k","schema":{...},"txn":7}}
  *       {"add":{"path":"data/<uuid>","rows":1500,"min":1,"max":1500}}
  *       {"remove":{"path":"data/<older>"}}
  *   _txn_log/00000000000000000010.checkpoint.json   the commit that
  *       BUILDS state 10 from nothing, in the same format:
  *       {"commit":{"version":10,"op":"checkpoint","readVersion":-1,
  *                  "statsCol":"k","schema":{...},"txn":7,"constraints":[...]}}
  *       {"add":{"path":"data/<uuid>","rows":1500,"min":1,"max":1500}}
  *       ... one add line per active file, in state order
  *   data/<uuid>/part-*.parquet           immutable Spark parquet writes
  * }}}
  *
  * Every read is a projection of ONE [[VersionedTable.TableState]] per
  * version: the newest checkpoint at or before it plus the log tail,
  * folded once (Delta's snapshot-from-checkpoint-plus-tail design). A
  * checkpoint carries the whole state — files with rows and stats,
  * schema, stats column, CHECK constraints and txn cursor — so no read
  * or write at or after a checkpoint opens a log file before it.
  *
  * The logged schema is the schema a snapshot returns: every field (array
  * elements and map values too) is logged nullable, as Spark's parquet
  * source reads it back, whatever nullability the written frame declared.
  *
  * The contract, and how each piece is achieved on a filesystem:
  *
  *   - ATOMIC COMMIT: the commit content is written to a temp name, then
  *     PUBLISHED via `Files.createLink(versionFile, tmp)` — hard-link
  *     creation is a single atomic syscall that FAILS if the target
  *     exists, so a version file is only ever observed complete, and two
  *     writers can never both claim one version. (The rename-based
  *     alternative, `ATOMIC_MOVE`, silently REPLACES on POSIX — it is
  *     atomic but detects no conflict.) On object stores the same
  *     publish step is the store's put-if-absent / conditional-write.
  *   - OPTIMISTIC CONCURRENCY: a transaction notes the version it read,
  *     targets `readVersion + 1`, and the publish step either wins or
  *     throws [[CommitConflictException]] — classic optimistic
  *     concurrency control. Blind appends can safely retry on a fresh
  *     read (they touch no existing file); rewriting commits (overwrite/
  *     merge) must re-run their dataflow against the new snapshot, so
  *     the decision is the caller's.
  *   - SNAPSHOT ISOLATION: data files are immutable and never deleted
  *     (no VACUUM here), and a snapshot resolves the active-file list of
  *     ONE version at construction — concurrent commits change the log,
  *     never a file a reader already holds. A reader sees exactly the
  *     files some single commit published: no torn reads, no phantom
  *     mixes of two versions.
  *   - TIME TRAVEL: `snapshot(spark, versionAsOf = Some(v))` replays the
  *     log only through v — the "VERSION AS OF" read.
  *
  * At 100 TB the log stays kilobytes per commit (it names directories,
  * not rows), readers list one small directory, and the data path is
  * untouched parquet — the scheme adds zero I/O to scans beyond reading
  * the file list from the log instead of from a directory listing (which
  * is itself the point: object-store listings are neither atomic nor
  * consistent; the log is).
  */
final class VersionedTable private (val root: Path) {
  import VersionedTable._

  private def logDir: Path = root.resolve(LogDirName)

  /** Largest committed version, or -1 for an empty/uninitialized log. */
  def latestVersion: Long = VersionedTable.latestVersion(logDir)

  /** The table state at `version`: the newest checkpoint at or before it,
    * then the log TAIL. With periodic checkpoints a read costs
    * O(commits since last checkpoint), not O(table lifetime) — the piece
    * that keeps a table with years of minutely commits readable in
    * constant time. The tail is STRICT: a missing log version fails
    * loudly, never silently degrades the state.
    */
  private[graft] def state(version: Long): TableState =
    states(version, version).next()

  /** The latest version's state, from ONE listing of the log: the
    * latest version and the newest checkpoint at or before it are read
    * from the same directory listing.
    */
  private def latestState: TableState = {
    val names = logFileNames(logDir)
    val v = latestVersionIn(names)
    states(v, v, names).next()
  }

  /** The states of versions `from` to `to`, ascending, built by ONE fold.
    * A checkpoint in the legacy single-object form is not read: the fold
    * then starts at version 0 (no code path deletes log files, and the
    * next auto-checkpoint restores the tail bound).
    */
  private def states(from: Long, to: Long,
                     names: => List[String] = logFileNames(logDir)): Iterator[TableState] = {
    val cp = latestCheckpointIn(names, from)
    val base = (if (cp >= 0) readLog(logDir.resolve(checkpointFileName(cp))) else None)
      .fold(TableState.Empty)(TableState.Empty.next)
    (base.version + 1 to to).iterator.map(v => commitAt(logDir, v))
      .scanLeft(base)(_ next _)
      .dropWhile(_.version < from)
  }

  /** Active data paths (relative) at `version`, in commit order, so
    * snapshots list files deterministically.
    */
  def activeFiles(version: Long): Seq[String] = state(version).files

  /** Active files at `version` WITH their logged row counts and stats —
    * the full add-entry view [[restore]] needs to re-activate a past
    * file set.
    */
  def activeAdds(version: Long): Seq[AddEntry] = state(version).adds

  /** RESTORE the table to the content (and schema) of `toVersion` as a
    * NEW commit — the Delta-style metadata-only rollback: no data file
    * is copied or rewritten, the commit simply re-activates the target
    * version's file set and removes everything added since. History is
    * PRESERVED: the rolled-back versions stay time-travelable, and a
    * restore can itself be restored away. Conflict class: rewriting
    * (like overwrite) — a racer's commit invalidates the file-set
    * delta, so the conflict propagates to the caller. Fails loudly if
    * vacuum already reclaimed a target file (the restore horizon is the
    * vacuum horizon, exactly as in the Delta protocol).
    */
  def restore(toVersion: Long, readVersion: Long): Long = {
    require(toVersion <= readVersion,
      s"restore target $toVersion is ahead of read version $readVersion")
    val target = state(toVersion)
    target.adds.foreach { a =>
      // "fails loudly" must mean real content: a bare existence check
      // passes on a partially deleted directory and surfaces later as a
      // read error. Evidence = at least one parquet part file, or a
      // bucket subdirectory (optimize commits nest __bucket=N dirs).
      val dir = root.resolve(a.path)
      val hasContent = Files.isDirectory(dir) && {
        val s = Files.list(dir)
        try s.iterator().asScala.exists { p =>
          p.getFileName.toString.endsWith(".parquet") || Files.isDirectory(p)
        } finally s.close()
      }
      require(hasContent,
        s"restore target ${a.path} was vacuumed or partially deleted; version $toVersion is unrecoverable")
    }
    val current = state(readVersion).active
    val adds = target.adds.filterNot(a => current.contains(a.path))
    val removes = current.keys.filterNot(target.active.contains).toSeq
    commit("restore", readVersion, adds, removes, schemaJson = target.schemaJson)
  }

  /** Write a checkpoint of the CURRENT latest version: the commit that
    * builds its state from nothing. Idempotent and crash-safe (tmp +
    * atomic link; an existing checkpoint for the version is left alone).
    * Checkpoints are pure accelerators: replay without them is always
    * correct, so losing one costs time, never consistency.
    */
  def checkpoint(): Long = {
    val s = latestState
    val v = s.version
    require(v >= 0, "nothing to checkpoint")
    val target = logDir.resolve(checkpointFileName(v))
    if (!Files.exists(target))
      try publish(target, encode(s.asCommit))
      catch { case _: FileAlreadyExistsException => () } // racer wrote it
    v
  }

  /** The table schema AT `version`: the newest one logged at or before
    * it (every data-writing commit logs one). None only for
    * pre-schema-logging tables (falls back to parquet self-description).
    */
  def schemaOf(version: Long): Option[StructType] = state(version).schema

  /** Snapshot read — latest version by default, `versionAsOf` for time
    * travel. The returned frame is pinned to the resolved file list:
    * commits that land afterwards cannot change what it reads.
    *
    * SCHEMA EVOLUTION: the read is driven by the LOGGED schema of the
    * target version, not by any one file's footer — files written
    * before an additive column existed surface it as NULL (the parquet
    * reader fills missing columns), and time travel to an old version
    * reads the old schema without the later columns. This is why the
    * schema lives in the log: a directory of mixed-footer files has no
    * authoritative answer to "what columns does this table have as of
    * version v"; the commit that created v does.
    */
  def snapshot(spark: SparkSession, versionAsOf: Option[Long] = None): DataFrame = {
    val s = versionAsOf.fold(latestState)(state)
    require(s.version >= 0, s"table at $root has no committed version")
    snapshotOf(spark, s)
  }

  private def snapshotOf(spark: SparkSession, s: TableState): DataFrame = {
    require(s.active.nonEmpty, s"version ${s.version} of $root holds no data files")
    read(spark, s, s.files)
  }

  /** `files` of state `s` under its LOGGED schema (see [[snapshot]]):
    * which footers a read opens must not decide the result schema.
    */
  private def read(spark: SparkSession, s: TableState, files: Seq[String]): DataFrame =
    s.schema.fold(spark.read)(sch => spark.read.schema(sch))
      .parquet(files.map(f => root.resolve(f).toString): _*)

  /** Per-file stats recorded in the log for `version`:
    * path -> (min, max) of the table's stats column, absent for files
    * committed without stats.
    */
  def fileStats(version: Long): Map[String, (Long, Long)] =
    state(version).adds.flatMap(a => a.stats.map(a.path -> _)).toMap

  /** Data-skipping snapshot read: prune data files whose logged
    * [min, max] span of the stats column cannot intersect [lo, hi] —
    * BEFORE Spark lists a single footer. This is the zone-map / Delta
    * data-skipping idea lifted into the commit log: parquet row-group
    * stats prune I/O inside a file the scanner already opened, log
    * stats prune the FILES, which at 100 TB is the difference between
    * planning over thousands of objects and planning over the few a
    * time-ordered ingest actually touches (append-mostly tables are
    * naturally clustered on ingest keys, so spans are tight in
    * practice; a z-order rewrite — q86 — tightens two dimensions at
    * once). Files with no recorded stats are conservatively kept, and
    * the residual filter still applies, so the read is always correct,
    * just cheaper. Returns the frame plus how many files survived of
    * the total (the spec pins the skipping really happened).
    */
  def snapshotWhere(spark: SparkSession, lo: Long, hi: Long,
                    versionAsOf: Option[Long] = None): (DataFrame, Int, Int) = {
    val s = versionAsOf.fold(latestState)(state)
    val v = s.version
    val statsCol = s.statsCol.getOrElse(
      throw new IllegalStateException(s"table at $root records no stats column"))
    val kept = s.adds.filter(_.stats.forall { case (mn, mx) => mx >= lo && mn <= hi })
      .map(_.path)
    require(kept.nonEmpty, s"no file of version $v can contain [$lo, $hi]")
    val df = read(spark, s, kept)
      .filter(org.apache.spark.sql.functions.col(statsCol).between(lo, hi))
    (df, kept.length, s.active.size)
  }

  /** The column this table logs min/max stats for, if any. */
  def statsColumn: Option[String] = latestState.statsCol

  /** Write `df` as a fresh immutable data directory; returns the add
    * entry (path, rows, and — when the table logs a stats column — the
    * written data's min/max of it). The row count and stats are gathered
    * IN the write job by an [[org.apache.spark.sql.Observation]], so the
    * input dataflow (a merge's join, a compaction's shuffle) runs once.
    * Not yet visible — only a commit publishes it. Throws, before any
    * commit, if the write's metrics do not arrive: a row count is never
    * guessed.
    */
  private def writeData(df: DataFrame, statsCol: Option[String]): AddEntry = {
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    val rel = s"data/${UUID.randomUUID()}"
    val obs = Observation()
    val stats = statsCol.toSeq.flatMap(c =>
      Seq(min(col(c)).cast("long").as("min"), max(col(c)).cast("long").as("max")))
    df.observe(obs, count(lit(1)).as("rows"), stats: _*)
      .write.mode("errorifexists").parquet(root.resolve(rel).toString)
    // the listener bus delivers the metrics after the write job ends
    val r = try Await.result(obs.future, WriteMetricsWait) catch {
      case e: TimeoutException => throw new IllegalStateException(
        s"write of $rel in $root reported no row count within $WriteMetricsWait", e)
    }
    AddEntry(rel, r.getLong(0),
      if (stats.isEmpty || r.isNullAt(1)) None else Some((r.getLong(1), r.getLong(2))))
  }

  /** Publish `content` at `target`: written to a temp name, then
    * hard-linked, which FAILS with FileAlreadyExistsException if the
    * target exists — a log file is only ever observed complete.
    */
  private def publish(target: Path, content: String): Unit = {
    val tmp = logDir.resolve(s".tmp-${UUID.randomUUID()}.json")
    Files.writeString(tmp, content)
    try Files.createLink(target, tmp) finally Files.deleteIfExists(tmp)
  }

  /** Publish one commit targeting `readVersion + 1`.
    * @throws CommitConflictException if that version was taken first.
    */
  def commit(op: String, readVersion: Long,
             adds: Seq[AddEntry], removes: Seq[String],
             statsColMeta: Option[String] = None,
             schemaJson: Option[String] = None,
             txnId: Option[Long] = None,
             constraints: Option[Seq[(String, String)]] = None): Long = {
    val version = readVersion + 1
    try publish(logDir.resolve(versionFileName(version)), encode(Commit(version, op,
      readVersion, statsColMeta, schemaJson, txnId, constraints, adds, removes)))
    catch {
      case _: FileAlreadyExistsException =>
        throw new CommitConflictException(
          s"version $version of $root was committed by another writer " +
            s"(this transaction read version $readVersion)")
    }
    // periodic checkpoint so reader replay stays O(interval); purely
    // an accelerator, so best-effort is correct
    if (version > 0 && version % CheckpointInterval == 0)
      try checkpoint() catch { case NonFatal(_) => () }
    version
  }

  /** Blind append: conflict-free by construction (touches no existing
    * file), so a lost race is safely retried against the fresh latest.
    */
  def append(df: DataFrame, maxRetries: Int = 5,
             txnId: Option[Long] = None): Long = {
    // Validate BEFORE writeData so a violating batch publishes nothing,
    // not even an orphan data file. Validation reads the entry-time
    // constraint set; a constraint added concurrently with this append
    // has the same write-write race Delta documents for its own path.
    val entry = latestState
    validateConstraints(df, entry.constraints, "append")
    val add = writeData(df, entry.statsCol)
    retrying(maxRetries) {
      // ONE latestVersion read per attempt, used for BOTH the schema
      // merge and the commit target: reading it twice would let a
      // foreign commit slip between the reads and this append succeed
      // while logging a schema merged against the stale version —
      // silently narrowing away the racer's new columns. With a single
      // read, any interleaving commit surfaces as a conflict and the
      // retry recomputes the merge (additive evolution: the new logged
      // schema is the previous schema plus any columns this batch
      // introduces — an append can widen the table, never narrow it).
      val rv = latestVersion
      val s = if (rv == entry.version) entry else state(rv)
      commit("append", rv, Seq(add), Nil,
        schemaJson = Some(evolvedSchema(df, s.schema)), txnId = txnId)
    }
  }

  /** `attempt`, re-run after each lost commit race up to `retriesLeft`
    * times; the last conflict propagates.
    */
  private def retrying(retriesLeft: Int)(attempt: => Long): Long =
    try attempt catch {
      case _: CommitConflictException if retriesLeft > 0 => retrying(retriesLeft - 1)(attempt)
    }

  /** Replace the full table content (the rewriting commit class: a lost
    * race means the inputs changed, so the conflict PROPAGATES — the
    * caller must recompute against the new snapshot, not blind-retry).
    */
  def overwrite(df: DataFrame, readVersion: Long,
                txnId: Option[Long] = None): Long = {
    val s = state(readVersion)
    validateConstraints(df, s.constraints, "overwrite")
    val add = writeData(df, s.statsCol)
    // a full replace REDEFINES the schema (it may drop columns)
    commit("overwrite", readVersion, Seq(add), s.files,
      schemaJson = Some(df.schema.json), txnId = txnId)
  }

  /** The op name and the add-entry delta of ONE commit (not the
    * replayed active set) — what an incremental consumer (replication,
    * audit) needs to apply exactly that commit's effect.
    */
  def commitInfo(version: Long): (String, Seq[AddEntry], Seq[String]) = {
    val c = commitAt(logDir, version)
    (c.op, c.adds, c.removes)
  }

  /** `prev` widened by any columns `df` introduces. */
  private def evolvedSchema(df: DataFrame, prev: Option[StructType]): String =
    prev.fold(df.schema) { p =>
      StructType(p.fields ++ df.schema.fields.filterNot(f => p.fieldNames.contains(f.name)))
    }.json

  /** MERGE INTO through the log: q62's co-partitioned full-outer merge
    * (graft.streaming.CdcApply.mergeBatch — update patches, delete wins,
    * insert appends) applied to the `readVersion` snapshot, committed as
    * one rewriting transaction. Same conflict semantics as overwrite.
    */
  def merge(spark: SparkSession, changes: DataFrame, readVersion: Long,
            txnId: Option[Long] = None): Long = {
    val s = state(readVersion)
    val merged = graft.streaming.CdcApply.mergeBatch(snapshotOf(spark, s), changes)
    // the merged RESULT is validated (deletes can't violate; updates and
    // inserts land in it), same point in the flow as Delta's merge check
    validateConstraints(merged, s.constraints, "merge")
    val add = writeData(merged, s.statsCol)
    commit("merge", readVersion, Seq(add), s.files,
      schemaJson = Some(merged.schema.json), txnId = txnId)
  }

  /** The most recently committed transaction id (the idempotence cursor
    * for at-least-once writers like foreachBatch: batch ids are
    * monotonic, so a batch ≤ this id was already applied and must be
    * skipped on replay — the public Delta txnAppId/txnVersion pattern).
    */
  def lastTxnId: Option[Long] = latestState.txn

  // ------------------------------------------------------------------
  // CHECK constraints (the Delta `ALTER TABLE ADD CONSTRAINT` surface):
  // declarative row predicates logged IN the commit log — every
  // constraint-changing commit records the FULL active set (the schema
  // pattern), and checkpoints carry it, so the set at any version is part
  // of its state: O(log tail) to resolve and time-travel-consistent.
  // Writes validate the incoming batch BEFORE any data file is written,
  // so a violation publishes nothing — not even an orphan file. SQL
  // CHECK semantics: a NULL predicate passes.

  /** Active CHECK constraints at `version`, newest-logged set wins. */
  def constraintsOf(version: Long): Seq[(String, String)] = state(version).constraints

  /** Active CHECK constraints of the latest version. */
  def checkConstraints: Seq[(String, String)] = latestState.constraints

  /** Throw [[ConstraintViolationException]] if `df` violates any of
    * `cs`. One combined pass over the batch when all pass (the common
    * case); only a failure pays per-constraint re-evaluation to NAME the
    * violated constraint in the error.
    */
  private def validateConstraints(df: DataFrame, cs: Seq[(String, String)],
                                 op: String): Unit = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    if (cs.isEmpty) return
    def violated(e: String) = not(coalesce(expr(e), lit(true)))
    val anyBad = cs.map(c => violated(c._2)).reduce(_ || _)
    if (df.where(anyBad).take(1).nonEmpty) {
      val culprit = cs.find(c => df.where(violated(c._2)).take(1).nonEmpty)
        .getOrElse(cs.head)
      throw new ConstraintViolationException(
        s"$op to $root violates CHECK constraint '${culprit._1}' " +
          s"(${culprit._2})")
    }
  }

  /** Add a named CHECK constraint. Like Delta's ADD CONSTRAINT, the
    * EXISTING table must already satisfy it (validated against the read
    * snapshot before the commit publishes); concurrent commits retry the
    * read-validate-commit cycle.
    */
  def addCheckConstraint(spark: SparkSession, name: String, exprStr: String,
                         maxRetries: Int = 5): Long = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    retrying(maxRetries) {
      val s = latestState
      require(!s.constraints.exists(_._1 == name),
        s"constraint '$name' already exists on $root")
      if (s.version >= 0 &&
          snapshotOf(spark, s)
            .where(not(coalesce(expr(exprStr), lit(true)))).take(1).nonEmpty)
        throw new ConstraintViolationException(
          s"cannot add CHECK constraint '$name' ($exprStr): " +
            s"existing rows of $root violate it")
      commit("addConstraint", s.version, Nil, Nil,
        constraints = Some(s.constraints :+ (name -> exprStr)))
    }
  }

  /** Drop a named CHECK constraint (no-op validation; the set shrinks). */
  def dropCheckConstraint(name: String, maxRetries: Int = 5): Long = {
    retrying(maxRetries) {
      val s = latestState
      require(s.constraints.exists(_._1 == name),
        s"constraint '$name' does not exist on $root")
      commit("dropConstraint", s.version, Nil, Nil,
        constraints = Some(s.constraints.filterNot(_._1 == name)))
    }
  }

  /** CHANGE DATA FEED between two versions, keyed by `keyCol`: what a
    * downstream consumer must apply to move from `fromVersion`'s state
    * to `toVersion`'s — one row per changed key tagged insert / update /
    * delete. Computed as one full-outer join of the two snapshots on the
    * key with a struct compare over their common columns (version-diff
    * semantics; a log that RECORDED row-level changes per commit could
    * serve this without the join, which is the production upgrade path —
    * the API contract is identical). Unchanged keys drop out before
    * anything is returned, so feed volume tracks churn, not table size.
    */
  def changes(spark: SparkSession, keyCol: String,
              fromVersion: Long, toVersion: Long): DataFrame =
    changesWithImages(spark, keyCol, fromVersion, toVersion)
      .select(org.apache.spark.sql.functions.col(keyCol),
        org.apache.spark.sql.functions.col("_change_type"))

  /** [[changes]] plus the row IMAGES (Delta CDF's preimage/postimage):
    * `_before` is the row's non-key struct at `fromVersion` (NULL for
    * inserts), `_after` at `toVersion` (NULL for deletes). This is the
    * feed shape incremental consumers need — an aggregate
    * materialization updates from `_after − _before` signed deltas
    * (q141) without touching unchanged rows; key-only [[changes]] can
    * say WHAT moved but not by how much.
    */
  def changesWithImages(spark: SparkSession, keyCol: String,
                        fromVersion: Long, toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, concat_ws, count, lit, max,
      not, raise_error, struct, when}
    require(fromVersion < toVersion,
      s"changes requires fromVersion < toVersion, got $fromVersion >= $toVersion")
    val before = snapshot(spark, Some(fromVersion))
    val after = snapshot(spark, Some(toVersion))
    val common = before.columns.filter(after.columns.contains).filter(_ != keyCol)
    // PRECONDITION, enforced: `keyCol` identifies at most one row per
    // snapshot. A duplicated key would fan the full-outer join out and
    // silently corrupt every downstream delta algebra (q141), so each
    // side pre-aggregates per key — max(struct) is the row itself when
    // the key is unique, and the guard raises DURING execution (inside
    // the _change_type expression, so column pruning can't drop it) the
    // moment any key holds >1 row. The groupBy hash-partitions each
    // side on the key, which is exactly the join's requirement — the
    // guard adds no exchange beyond what the join itself needs.
    // (max(struct) requires orderable field types — no new restriction:
    // the null-safe struct compare below already requires comparable
    // ones, and MapType is neither; CDF over map-typed columns was
    // never expressible in this classifier.)
    def keyed(df: DataFrame, img: String, n: String) =
      df.groupBy(col(keyCol)).agg(
        max(struct(common.map(col): _*)).as(img), count(lit(1)).as(n))
    val b = keyed(before, "_before", "_nb")
    val a = keyed(after, "_after", "_na")
    val dupGuard = raise_error(concat_ws("",
      lit(s"changesWithImages: duplicate '$keyCol' in snapshot (key="),
      col(keyCol).cast("string"), lit(")"))).cast("string")
    b.join(a, Seq(keyCol), "full_outer")
      .withColumn("_change_type",
        when(col("_nb") > 1 || col("_na") > 1, dupGuard)
          .when(col("_before").isNull, "insert")
          .when(col("_after").isNull, "delete")
          // null-SAFE struct compare: a field moving null->value (or
          // back) is an update; plain =!= returns null there and the
          // row would silently vanish from the feed
          .when(not(col("_before") <=> col("_after")), "update"))
      .filter(col("_change_type").isNotNull)
      .select(col(keyCol), col("_change_type"), col("_before"), col("_after"))
  }

  /** DELETE WHERE through the log — the Delta delete algorithm with
    * file-level pruning: ONE distributed pass finds the files that
    * actually contain matching rows (`input_file_name` over the
    * predicate's survivors), only THOSE files are rewritten without
    * their matches, and untouched files keep their existing add entries
    * — zero I/O for data the predicate never touches, which at 100 TB
    * (with clustering, q-optimize) is almost all of it. Time travel
    * still reads the deleted rows at pre-delete versions (immutable
    * files); PHYSICAL removal — the compliance half of a
    * right-to-be-forgotten pipeline — is `vacuum` past the delete's
    * horizon, spec-proven to remove the bytes from disk. Rewriting
    * conflict class (like compact/overwrite): a lost race propagates.
    * Returns the committed version, or -1 if nothing matched (no empty
    * commit published).
    */
  def deleteWhere(spark: SparkSession, predicate: String,
                  readVersion: Long): Long = {
    import org.apache.spark.sql.functions.{coalesce, expr, input_file_name, lit, not}
    val s = state(readVersion)
    val snap = snapshotOf(spark, s)
    val touchedUris = snap.where(expr(predicate))
      .select(input_file_name()).distinct()
      .collect().map(_.getString(0)).toSet // bounded by |active files|
    if (touchedUris.isEmpty) return -1L
    val touched = s.files.filter { rel =>
      // the trailing "/" keeps __bucket=1 from matching __bucket=10's files
      touchedUris.exists(u => u.contains(rel + "/"))
    }
    val kept = read(spark, s, touched)
      // DELETE WHERE p removes rows where p is TRUE; NULL keeps the row
      .where(not(coalesce(expr(predicate), lit(false))))
    val add = writeData(kept, s.statsCol)
    commit("delete", readVersion, Seq(add), touched,
      schemaJson = Some(snap.schema.json))
  }

  /** Small-file compaction THROUGH the log (Delta OPTIMIZE's shape): the
    * active files of `readVersion` are rewritten into ~`targetBytes`
    * outputs and swapped in one rewriting commit that changes ZERO rows
    * — readers of any version, before or after, see identical data;
    * only the file layout (and scan cost) changes. Pairs with
    * ops/Layout.compact, which documents why repartition (a shuffle)
    * beats coalesce for uniform output sizes.
    */
  def compact(spark: SparkSession, targetBytes: Long, readVersion: Long): Long = {
    val s = state(readVersion)
    val df = snapshotOf(spark, s)
    val hconf = spark.sparkContext.hadoopConfiguration
    val totalBytes = df.inputFiles.map { f =>
      val p = new org.apache.hadoop.fs.Path(new java.net.URI(f))
      p.getFileSystem(hconf).getFileStatus(p).getLen
    }.sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val add = writeData(df.repartition(nOut), s.statsCol)
    commit("compact", readVersion, Seq(add), s.files,
      schemaJson = Some(df.schema.json))
  }

  /** OPTIMIZE: rewrite the active file set CLUSTERED by `clusterKey`
    * into up to `nBuckets` range buckets — one add entry per bucket,
    * written in a single pass (`write.partitionBy` on the computed
    * bucket id), published as ONE rewriting commit. Layout-only: same
    * rows, every version's readers unaffected, history intact. What it
    * buys: per-entry min/max stats become tight near-disjoint ranges,
    * so [[snapshotWhere]] prunes to ~1/nBuckets of the data instead of
    * reading everything — the `OPTIMIZE ... ZORDER BY` shape (pass an
    * interleaved key, ops/Layout.scala's bit trick, for
    * multi-dimensional locality; the bucketing mechanics don't care
    * what the key expression is). Boundaries are exact percentiles of
    * the key — an (nBuckets−1)-value driver-held literal, the
    * IVF-codebook pattern; at 100 TB swap in `approx_percentile`
    * (boundary placement changes, correctness doesn't: any boundaries
    * yield the same rows, only skipping tightness varies). Conflict
    * class: rewriting, like compact/overwrite.
    */
  def optimize(spark: SparkSession, clusterKey: org.apache.spark.sql.Column,
               nBuckets: Int, readVersion: Long): Long = {
    import org.apache.spark.sql.functions._
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val s = state(readVersion)
    val df = snapshotOf(spark, s)
    val keyed = df.withColumn("__ck", clusterKey.cast("double"))
    val cuts: Seq[Double] =
      if (nBuckets == 1) Nil
      else {
        val qs = (1 until nBuckets).map(i => i.toDouble / nBuckets)
        keyed.agg(expr(s"percentile(__ck, array(${qs.mkString(",")}))"))
          .head().getSeq[Double](0)
      }
    val bucket = cuts.foldLeft(lit(0))((acc, c) =>
      acc + when(col("__ck") >= c, 1).otherwise(0))
    val rel = s"data/${UUID.randomUUID()}"
    val out = keyed.withColumn("__bucket", bucket).drop("__ck")
    out.write.mode("errorifexists").partitionBy("__bucket")
      .parquet(root.resolve(rel).toString)
    // one aggregate yields every bucket's row count and stats span
    val adds = (s.statsCol match {
      case Some(c) =>
        out.groupBy(col("__bucket"))
          .agg(count(lit(1)), min(col(c)).cast("long"), max(col(c)).cast("long"))
          .collect()
          .map(r => AddEntry(s"$rel/__bucket=${r.getInt(0)}", r.getLong(1),
            if (r.isNullAt(2)) None else Some((r.getLong(2), r.getLong(3)))))
      case None =>
        out.groupBy(col("__bucket")).agg(count(lit(1))).collect()
          .map(r => AddEntry(s"$rel/__bucket=${r.getInt(0)}", r.getLong(1), None))
    }).toSeq.sortBy(_.path)
    commit("optimize", readVersion, adds, s.files,
      schemaJson = Some(df.schema.json))
  }

  /** Physically delete data directories no version ≥ `horizon`
    * references — the retention trade every table format makes explicit:
    * time travel BEFORE the horizon dies (a vacuumed version's read
    * fails fast on the missing file, never silently returns partial
    * data), storage is reclaimed, every version ≥ horizon is untouched.
    * Returns the deleted table-relative paths.
    */
  def vacuum(horizon: Long, minAgeMs: Long = 600000L): Seq[String] = {
    val names = logFileNames(logDir)
    val latest = latestVersionIn(names)
    require(horizon >= 0 && horizon <= latest,
      s"vacuum horizon $horizon outside [0, $latest]")
    // one fold over [horizon, latest], not one replay per version
    val referenced = states(horizon, latest, names).flatMap(_.files).toSet
    val dataDir = root.resolve("data")
    val cutoff = System.currentTimeMillis() - minAgeMs
    val all = Files.list(dataDir)
    val victims =
      try {
        all.iterator().asScala
          // the age guard protects a CONCURRENT writer: its data dir is
          // on disk before its commit publishes, and deleting it would
          // corrupt the commit that then succeeds (log-only). Directories
          // younger than the retention window are never victims — the
          // same modification-time guard production table formats use.
          .filter(p => Files.getLastModifiedTime(p).toMillis < cutoff)
          .map(p => s"data/${p.getFileName}")
          // an optimize commit's add entries are NESTED under one data
          // dir (data/<uuid>/__bucket=N), so a top-level child is live
          // when any referenced path sits below it — a flat contains()
          // here would hand a live optimized table to the deleter
          .filterNot(rel => referenced.contains(rel) ||
            referenced.exists(_.startsWith(rel + "/")))
          .toList
      } finally all.close()
    victims.foreach { rel =>
      // recursive: victims can themselves hold bucket subdirectories
      val walk = Files.walk(root.resolve(rel))
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(Files.delete)
      finally walk.close()
    }
    victims
  }
}


object VersionedTable {
  private[graft] val LogDirName = "_txn_log"
  private val Mapper = new ObjectMapper()

  /** NET-EFFECT composition of two change feeds (the Delta CDF
    * "net changes" semantic): given the v0→v1 and v1→v2 image feeds,
    * produce the v0→v2 feed directly — insert∘delete and
    * update-back-to-original cancel, insert∘update collapses to one
    * insert with the final image, delete∘insert of an identical row
    * vanishes. The algebra is one keyed full-outer join (net before =
    * the OLDER feed's preimage where present, net after = the NEWER
    * feed's postimage where present) + the same null-safe classifier
    * snapshots use — so `compose(changes(a,b), changes(b,c)) ==
    * changes(a,c)` exactly, which TableSpec pins. Consumers replaying a
    * backlog apply one net row per key instead of every intermediate
    * event; feed volume stays churn-bounded under composition.
    *
    * PRECONDITION: each feed carries AT MOST ONE row per key — the
    * contract [[changesWithImages]] guarantees (and now enforces) for
    * its own output. A multi-row-per-key feed would fan the full-outer
    * join out and produce a corrupt net feed; when composing feeds from
    * an external writer, net them per key first.
    */
  def composeChanges(keyCol: String, older: DataFrame, newer: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, not, when}
    val a = older.select(col(keyCol), col("_before").as("_b1"), col("_after").as("_a1"))
    val b = newer.select(col(keyCol), col("_before").as("_b2"), col("_after").as("_a2"))
    // a feed row always carries >= 1 non-null image, so "present" is
    // distinguishable from the full-outer join's all-null absence
    val in1 = col("_b1").isNotNull || col("_a1").isNotNull
    val in2 = col("_b2").isNotNull || col("_a2").isNotNull
    a.join(b, Seq(keyCol), "full_outer")
      .withColumn("_before", when(in1, col("_b1")).otherwise(col("_b2")))
      .withColumn("_after", when(in2, col("_a2")).otherwise(col("_a1")))
      .withColumn("_change_type",
        when(col("_before").isNull && col("_after").isNull, null)
          .when(col("_before").isNull, "insert")
          .when(col("_after").isNull, "delete")
          .when(not(col("_before") <=> col("_after")), "update"))
      .filter(col("_change_type").isNotNull)
      .select(col(keyCol), col("_change_type"), col("_before"), col("_after"))
  }

  /** Auto-checkpoint cadence: replay cost is bounded by this many
    * commit files plus one checkpoint read.
    */
  val CheckpointInterval = 10

  /** How long a write waits for its observed row count and stats. */
  private val WriteMetricsWait = 60.seconds

  /** One published data write: table-relative path, row count, and the
    * stats column's (min, max) when the table records stats.
    */
  final case class AddEntry(path: String, rows: Long, stats: Option[(Long, Long)])

  /** One log file: a version's commit, or a checkpoint — the commit that
    * builds state `version` from nothing. Metadata fields are None when
    * the file does not log them; `constraints` is always the FULL set.
    */
  private[graft] final case class Commit(
      version: Long, op: String, readVersion: Long,
      statsCol: Option[String], schemaJson: Option[String], txn: Option[Long],
      constraints: Option[Seq[(String, String)]],
      adds: Seq[AddEntry], removes: Seq[String])

  /** What the log says at one version: the active add entries in commit
    * order, and the newest logged stats column, schema, CHECK constraint
    * set and txn id.
    */
  private[graft] final case class TableState(
      version: Long, active: VectorMap[String, AddEntry],
      statsCol: Option[String], schemaJson: Option[String],
      constraints: Seq[(String, String)], txn: Option[Long]) {

    def files: Seq[String] = active.keys.toSeq
    def adds: Seq[AddEntry] = active.values.toSeq
    def schema: Option[StructType] =
      schemaJson.map(DataType.fromJson(_).asInstanceOf[StructType])

    /** This state with `c` applied: its adds, then its removes; the
      * metadata `c` logs replaces what came before.
      */
    def next(c: Commit): TableState = TableState(c.version,
      c.adds.foldLeft(active)((m, a) => m.updated(a.path, a)) -- c.removes,
      c.statsCol.orElse(statsCol), c.schemaJson.orElse(schemaJson),
      c.constraints.getOrElse(constraints), c.txn.orElse(txn))

    /** The checkpoint of this state: `Empty.next(asCommit) == this`. */
    def asCommit: Commit = Commit(version, "checkpoint", -1L, statsCol,
      schemaJson, txn, Some(constraints), adds, Nil)
  }

  private[graft] object TableState {
    val Empty: TableState = TableState(-1L, VectorMap.empty, None, None, Nil, None)
  }

  /** Parse one log file — a version or a checkpoint — into its commit.
    * The ONLY reader of the log format. None for a file without a commit
    * line: the legacy single-object checkpoint, which is not read.
    */
  private def readLog(f: Path): Option[Commit] = {
    var head: Option[JsonNode] = None
    val adds = Seq.newBuilder[AddEntry]
    val removes = Seq.newBuilder[String]
    Files.readAllLines(f).forEach { line =>
      val node = Mapper.readTree(line)
      if (node.has("commit")) head = Some(node.get("commit"))
      if (node.has("add")) {
        val a = node.get("add")
        val st = if (a.has("min") && a.has("max"))
          Some((a.get("min").asLong(), a.get("max").asLong())) else None
        adds += AddEntry(a.get("path").asText(), a.get("rows").asLong(), st)
      }
      if (node.has("remove")) removes += node.get("remove").get("path").asText()
    }
    head.map { c =>
      def opt[T](k: String)(f: JsonNode => T) = Option(c.get(k)).map(f)
      Commit(c.get("version").asLong(), c.get("op").asText(), c.get("readVersion").asLong(),
        opt("statsCol")(_.asText()), opt("schema")(_.toString), opt("txn")(_.asLong()),
        opt("constraints")(_.asScala.map(e => e.get("name").asText() -> e.get("expr").asText()).toSeq),
        adds.result(), removes.result())
    }
  }

  /** The commit of log version `v`; a missing version fails loudly. */
  private[graft] def commitAt(logDir: Path, v: Long): Commit = {
    val f = logDir.resolve(versionFileName(v))
    require(Files.exists(f), s"missing log version $v in $logDir")
    readLog(f).getOrElse(
      throw new IllegalArgumentException(s"log version $v in $logDir has no commit line"))
  }

  /** The log format's ONLY writer: `c` as JSON lines — the commit line,
    * then one line per add and per remove.
    */
  private def encode(c: Commit): String = {
    val lines = Seq.newBuilder[ObjectNode]
    def line(action: String): ObjectNode = {
      val n = Mapper.createObjectNode()
      lines += n
      n.putObject(action)
    }
    val m = line("commit")
      .put("version", c.version).put("op", c.op).put("readVersion", c.readVersion)
    c.statsCol.foreach(m.put("statsCol", _))
    // a Spark StructType's JSON, embedded with every field nullable
    c.schemaJson.foreach(j =>
      m.putRawValue("schema", new RawValue(nullable(DataType.fromJson(j)).json)))
    c.txn.foreach(t => m.put("txn", t))
    c.constraints.foreach { cs =>
      val arr = m.putArray("constraints")
      cs.foreach { case (n, e) => arr.addObject().put("name", n).put("expr", e) }
    }
    c.adds.foreach { a =>
      val e = line("add").put("path", a.path).put("rows", a.rows)
      a.stats.foreach { case (mn, mx) => e.put("min", mn).put("max", mx) }
    }
    c.removes.foreach(p => line("remove").put("path", p))
    lines.result().map(Mapper.writeValueAsString).mkString("\n")
  }

  /** `t` with every field, array element and map value nullable: the
    * schema Spark's parquet source reads back (its own `asNullable` is not
    * public), so a logged schema never rejects a null a snapshot can hold.
    */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      new StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  private val VersionFile = """(\d{20})\.json""".r
  private val CheckpointFile = """(\d{20})\.checkpoint\.json""".r

  private def versionFileName(v: Long): String = f"$v%020d.json"
  private def checkpointFileName(v: Long): String = f"$v%020d.checkpoint.json"

  private def logFileNames(logDir: Path): List[String] = {
    val files = Files.list(logDir)
    try files.iterator().asScala.map(_.getFileName.toString).toList
    finally files.close()
  }

  /** Largest published version in `logDir`, or -1 for an empty log. Only
    * fully-published version files count — a crashed writer's .tmp-*
    * debris stays invisible to readers.
    */
  private[graft] def latestVersion(logDir: Path): Long =
    latestVersionIn(logFileNames(logDir))

  private def latestVersionIn(names: List[String]): Long =
    names.collect { case VersionFile(v) => v.toLong }.foldLeft(-1L)(math.max)

  /** Largest checkpointed version ≤ `version` in `names`, or -1 if none. */
  private def latestCheckpointIn(names: List[String], version: Long): Long =
    names.collect { case CheckpointFile(v) if v.toLong <= version => v.toLong }
      .foldLeft(-1L)(math.max)

  /** Create a new table at `root` with `df` as version 0. `statsCol`
    * (an integral column) turns on per-file min/max stats in every
    * subsequent commit — the data-skipping input of `snapshotWhere`.
    */
  def create(root: String, df: DataFrame,
             statsCol: Option[String] = None,
             txnId: Option[Long] = None): VersionedTable = {
    val r = Paths.get(root)
    Files.createDirectories(r.resolve(LogDirName))
    val t = new VersionedTable(r)
    require(t.latestVersion == -1L, s"table already exists at $root")
    val add = t.writeData(df, statsCol)
    t.commit("create", -1L, Seq(add), Nil, statsColMeta = statsCol,
      schemaJson = Some(df.schema.json), txnId = txnId)
    t
  }

  /** Open an existing table. */
  def open(root: String): VersionedTable = {
    val r = Paths.get(root)
    require(Files.isDirectory(r.resolve(LogDirName)), s"no table log at $root")
    new VersionedTable(r)
  }
}
