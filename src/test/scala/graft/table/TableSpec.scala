package graft.table

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSessionTestWrapper

/** The transactional contract of VersionedTable — the pieces no SQL
  * oracle can check: time travel across versions, snapshot isolation
  * against concurrent commits, conflict detection between racing
  * writers, and the CDC stream committing one durable version per
  * micro-batch.
  */
class TableSpec extends AnyFunSuite with SparkSessionTestWrapper {
  private val dir = "/root/testdata/sf0.001"

  private def base = {
    import spark.implicits._
    graft.Tables.customer(spark, dir)
      .select($"c_custkey", $"c_name", $"c_acctbal")
  }

  private def freshTable() =
    VersionedTable.create(graft.ops.Core.tmp("vt_spec"), base)

  /** Every log-derived accessor at version `v`, plus the latest-version
    * ones, to compare two reads of one log.
    */
  private def logView(t: VersionedTable, v: Long) =
    (t.activeFiles(v), t.activeAdds(v), t.fileStats(v), t.schemaOf(v),
      t.constraintsOf(v), t.statsColumn, t.lastTxnId, t.checkConstraints)

  private def snapshotRows(t: VersionedTable, v: Long): Seq[String] =
    t.snapshot(spark, Some(v)).collect().map(_.toString).sorted.toSeq

  /** Stage a change batch as a single parquet file in a CDC feed dir. */
  private def changeFile(df: org.apache.spark.sql.DataFrame,
                         outDir: String, name: String): Unit = {
    val staging = graft.ops.Core.tmp("vt_cdc_stage")
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    val listing = Files.list(Paths.get(staging))
    val part =
      try listing.filter(_.toString.endsWith(".parquet")).findFirst().get()
      finally listing.close()
    Files.createDirectories(Paths.get(outDir))
    Files.move(part, Paths.get(outDir, name))
  }

  test("create/append/overwrite advance versions; time travel reads each state") {
    import spark.implicits._
    val t = freshTable()
    assert(t.latestVersion == 0L)
    val n0 = base.count()

    val extra = base.limit(10).select($"c_custkey" + 500000 as "c_custkey",
      $"c_name", $"c_acctbal")
    assert(t.append(extra) == 1L)
    assert(t.latestVersion == 1L)

    val small = base.limit(5)
    assert(t.overwrite(small, readVersion = 1L) == 2L)

    assert(t.snapshot(spark, Some(0L)).count() == n0)
    assert(t.snapshot(spark, Some(1L)).count() == n0 + 10)
    assert(t.snapshot(spark, Some(2L)).count() == 5)
    assert(t.snapshot(spark).count() == 5) // latest = v2
  }

  test("snapshot isolation: a reader's frame is pinned against later commits") {
    val t = freshTable()
    val n0 = base.count()
    val snap = t.snapshot(spark) // resolves v0's file list NOW
    t.overwrite(base.limit(3), readVersion = 0L)
    // the pinned frame still reads v0's immutable files, not v1
    assert(snap.count() == n0, "reader observed a commit that happened after it opened")
    assert(t.snapshot(spark).count() == 3)
  }

  test("concurrent writers: second commit on the same read version is rejected") {
    val t = freshTable()
    // both writers read v0; writer A publishes v1 first
    t.overwrite(base.limit(7), readVersion = 0L)
    val e = intercept[CommitConflictException] {
      t.overwrite(base.limit(9), readVersion = 0L)
    }
    assert(e.getMessage.contains("version 1"))
    // the losing transaction left no trace: log is intact, v1 is writer A's
    assert(t.latestVersion == 1L)
    assert(t.snapshot(spark).count() == 7)
  }

  test("blind append retries through a conflict instead of failing") {
    val t = freshTable()
    // simulate a foreign writer landing between the append's read and
    // publish by pre-claiming version 1 through a second handle
    val foreign = VersionedTable.open(t.root.toString)
    foreign.append(base.limit(2))
    // this append reads latest=1 and must land at 2 without conflict
    assert(t.append(base.limit(4)) == 2L)
    assert(t.snapshot(spark).count() == base.count() + 2 + 4)
  }

  test("merge through the log equals q62's one-shot merge output") {
    import spark.implicits._
    val t = freshTable()
    val changes = base.filter($"c_custkey" % 10 === 0)
      .select($"c_custkey", lit("U").as("op"),
        lit(null).cast("string").as("new_name"),
        ($"c_acctbal" + 100.0).as("new_bal"))
      .unionAll(base.filter($"c_custkey" % 7 === 3 && $"c_custkey" % 10 =!= 0)
        .select($"c_custkey", lit("D").as("op"),
          lit(null).cast("string").as("new_name"),
          lit(null).cast("double").as("new_bal")))
    t.merge(spark, changes, readVersion = 0L)

    val viaTable = t.snapshot(spark).orderBy("c_custkey").collect()
    val oneShot = graft.streaming.CdcApply.mergeBatch(base, changes)
      .orderBy("c_custkey").collect()
    assert(viaTable.length == oneShot.length)
    assert(viaTable.sameElements(oneShot), "table merge != one-shot merge")
    // time travel still sees the unmerged base
    assert(t.snapshot(spark, Some(0L)).count() == base.count())
  }

  test("commit files are atomic: a torn temp file never becomes a version") {
    val t = freshTable()
    // a crashed writer's leftover temp must be invisible to readers
    val logDir = t.root.resolve("_txn_log")
    Files.writeString(logDir.resolve(".tmp-crashed.json"), "{\"commit\":")
    assert(t.latestVersion == 0L)
    assert(t.snapshot(spark).count() == base.count())
  }

  test("checkpoints bound replay to the log tail (old log files become dead weight)") {
    import spark.implicits._
    val t = freshTable()
    val n0 = base.count()
    // 12 appends of 1 row each: the auto-checkpoint lands at version 10
    (1 to 12).foreach { i =>
      t.append(base.limit(1).select($"c_custkey" + (900000 + i) as "c_custkey",
        $"c_name", $"c_acctbal"))
    }
    assert(t.latestVersion == 12L)
    assert(Files.exists(t.root.resolve("_txn_log")
      .resolve(f"${10L}%020d.checkpoint.json")), "auto-checkpoint at v10 missing")
    assert(t.snapshot(spark).count() == n0 + 12)

    // white-box proof that replay starts AT the checkpoint: destroy a
    // pre-checkpoint commit file — reads at/after the checkpoint must
    // not notice, reads before it must fail fast
    Files.delete(t.root.resolve("_txn_log").resolve(f"${3L}%020d.json"))
    assert(t.snapshot(spark).count() == n0 + 12)
    assert(t.snapshot(spark, Some(11L)).count() == n0 + 11)
    intercept[IllegalArgumentException] { t.snapshot(spark, Some(5L)) }
  }

  test("compaction through the log changes layout, never rows; history intact") {
    import spark.implicits._
    val t = freshTable()
    (1 to 3).foreach { i =>
      t.append(base.limit(20).select($"c_custkey" + (800000 + i * 1000) as "c_custkey",
        $"c_name", $"c_acctbal"))
    }
    val preVersion = t.latestVersion
    val pre = t.snapshot(spark)
    val preRows = pre.orderBy("c_custkey").collect()
    val preFiles = pre.inputFiles.length

    t.compact(spark, targetBytes = 1L << 30, readVersion = preVersion)

    val post = t.snapshot(spark)
    assert(post.inputFiles.length < preFiles,
      s"compaction did not reduce files: $preFiles -> ${post.inputFiles.length}")
    assert(post.orderBy("c_custkey").collect().sameElements(preRows),
      "compaction changed table content")
    // the pre-compact version still reads the original layout
    assert(t.snapshot(spark, Some(preVersion)).count() == preRows.length)
  }

  test("vacuum reclaims unreferenced files; horizon versions keep reading, older fail fast") {
    val t = freshTable()
    t.overwrite(base.limit(50), readVersion = 0L)
    t.compact(spark, targetBytes = 1L << 30, readVersion = 1L)
    val latest = t.latestVersion // v2

    val deleted = t.vacuum(horizon = latest, minAgeMs = 0L)
    assert(deleted.nonEmpty, "expected v0/v1 data dirs to be reclaimed")
    assert(t.snapshot(spark).count() == 50) // latest untouched
    // time travel below the horizon fails FAST (missing path), never
    // silently returns partial data
    intercept[Exception] { t.snapshot(spark, Some(0L)).count() }
  }

  test("log-level data skipping: snapshotWhere prunes files by logged min/max") {
    import spark.implicits._
    // time-ordered ingest: each append covers a disjoint key range, the
    // natural clustering of event-time data at scale
    val t = VersionedTable.create(graft.ops.Core.tmp("vt_stats"),
      base.filter($"c_custkey" < 50), statsCol = Some("c_custkey"))
    t.append(base.filter($"c_custkey" >= 50 && $"c_custkey" < 100))
    t.append(base.filter($"c_custkey" >= 100))
    assert(t.statsColumn.contains("c_custkey"))

    val (df, kept, total) = t.snapshotWhere(spark, lo = 60, hi = 90)
    assert(total == 3, s"expected 3 active files, saw $total")
    assert(kept == 1, s"log stats should prune to the one overlapping file, kept $kept")
    // pruning is an optimization, never a semantics change
    val expected = base.filter($"c_custkey".between(60, 90)).count()
    assert(df.count() == expected)

    // a compaction rewrite re-derives stats for the merged file: the
    // span widens to the union, skipping degrades, correctness holds
    t.compact(spark, targetBytes = 1L << 30, readVersion = t.latestVersion)
    val (df2, kept2, total2) = t.snapshotWhere(spark, 60, 90)
    assert(total2 == 1 && kept2 == 1)
    assert(df2.count() == expected)
  }

  test("OPTIMIZE: clustered rewrite restores skipping that compaction destroyed") {
    import spark.implicits._
    // WORST-case layout: three appends each spanning the WHOLE key
    // range (c_custkey % 3 slices), so every file overlaps every probe
    // and log stats can prune nothing
    val t = VersionedTable.create(graft.ops.Core.tmp("vt_opt"),
      base.filter($"c_custkey" % 3 === 0), statsCol = Some("c_custkey"))
    t.append(base.filter($"c_custkey" % 3 === 1))
    t.append(base.filter($"c_custkey" % 3 === 2))
    val before = t.snapshot(spark)
    val expected = base.filter($"c_custkey".between(10, 30)).count()
    val (_, kept0, total0) = t.snapshotWhere(spark, 10, 30)
    assert(total0 == 3 && kept0 == 3, "interleaved appends must defeat skipping")

    val v = t.optimize(spark, $"c_custkey", nBuckets = 4,
      readVersion = t.latestVersion)
    assert(v == 3L)
    // layout-only: identical content, history intact
    val after = t.snapshot(spark)
    assert(after.exceptAll(before).count() == 0 && before.exceptAll(after).count() == 0)
    assert(t.snapshot(spark, Some(2L)).count() == before.count())
    // tight disjoint ranges: the narrow probe now reads 1 of 4 entries
    val (df, kept, total) = t.snapshotWhere(spark, 10, 30)
    assert(total == 4, s"expected 4 bucket entries, saw $total")
    assert(kept == 1, s"optimize should prune to one bucket, kept $kept")
    assert(df.count() == expected)
    // conflict class is rewriting: a racer's commit invalidates it
    val rv = t.latestVersion
    t.append(base.limit(1))
    intercept[CommitConflictException] {
      t.optimize(spark, $"c_custkey", nBuckets = 2, readVersion = rv)
    }
  }

  test("DELETE WHERE after a 12-bucket OPTIMIZE rewrites only the bucket holding the match") {
    import spark.implicits._
    val t = VersionedTable.create(graft.ops.Core.tmp("vt_del_bucket"),
      base, statsCol = Some("c_custkey"))
    val vOpt = t.optimize(spark, $"c_custkey", nBuckets = 12, readVersion = 0L)
    val adds = t.commitInfo(vOpt)._2
    assert(adds.size == 12)
    // "__bucket=1" is a prefix of "__bucket=10": only the latter holds the key
    val b10 = adds.find(_.path.endsWith("/__bucket=10")).get
    val key = b10.stats.get._1
    val v = t.deleteWhere(spark, s"c_custkey = $key", vOpt)
    assert(t.commitInfo(v)._3 == Seq(b10.path))
    assert(t.snapshot(spark).count() == base.count() - 1)
  }

  test("checkpoint entries match the active files, rows and stats replayed from the log") {
    import spark.implicits._
    val t = VersionedTable.create(graft.ops.Core.tmp("vt_cp_content"),
      base.filter($"c_custkey" < 50), statsCol = Some("c_custkey")) // v0
    t.append(base.filter($"c_custkey" >= 50 && $"c_custkey" < 100),
      txnId = Some(1L)) // v1
    t.deleteWhere(spark, "c_custkey = 7", t.latestVersion) // v2 removes v0's file
    t.append(base.filter($"c_custkey" < 0)) // v3: empty, no stats
    assert(t.checkpoint() == 3L)
    t.restore(toVersion = 1L, readVersion = 3L) // v4 re-adds v0's file
    t.append(base.filter($"c_custkey" >= 100)) // v5
    assert(t.checkpoint() == 5L) // built from the v3 checkpoint plus the tail
    assert(t.activeAdds(5L).size == 3)

    val log = t.root.resolve("_txn_log")
    def cpFile(v: Long) = log.resolve(f"$v%020d.checkpoint.json")
    def view(v: Long) = (logView(t, v), snapshotRows(t, v))
    // a checkpoint is the commit that builds its state: one commit line,
    // then one add line per active file
    Seq(3L, 5L).foreach { v =>
      val lines = Files.readAllLines(cpFile(v))
      assert(lines.get(0).startsWith("""{"commit":{"version":""" + v))
      assert(lines.size == 1 + t.activeAdds(v).size)
    }
    // read THROUGH the checkpoints: the log files they cover moved aside
    val covered = (0L to 3L).map(v => log.resolve(f"$v%020d.json"))
    covered.foreach(f => Files.move(f, f.resolveSibling(s"${f.getFileName}.aside")))
    val through = Seq(3L, 5L).map(view)
    covered.foreach(f => Files.move(f.resolveSibling(s"${f.getFileName}.aside"), f))
    // ... and by replaying the whole log without them
    Seq(3L, 5L).foreach(v => Files.delete(cpFile(v)))
    assert(Seq(3L, 5L).map(view) == through)
  }

  test("a pruned log prefix keeps the stats column, constraints and txn cursor") {
    import spark.implicits._
    val t = VersionedTable.create(graft.ops.Core.tmp("vt_pruned"),
      base.filter($"c_custkey" < 50), statsCol = Some("c_custkey")) // v0
    t.addCheckConstraint(spark, "key_nonneg", "c_custkey >= 0") // v1
    t.append(base.filter($"c_custkey" >= 50), txnId = Some(7L)) // v2
    (3 to 11).foreach { i =>
      t.append(base.limit(1).select($"c_custkey" + (900000 + i) as "c_custkey",
        $"c_name", $"c_acctbal"))
    }
    val log = t.root.resolve("_txn_log")
    assert(t.latestVersion == 11L)
    assert(Files.exists(log.resolve(f"${10L}%020d.checkpoint.json")))
    val before = (t.statsColumn, t.schemaOf(11L), t.constraintsOf(11L), t.lastTxnId)
    assert(before._1.contains("c_custkey") && before._4.contains(7L))
    assert(before._3 == Seq(("key_nonneg", "c_custkey >= 0")))

    // no read or write at or after the checkpoint may open a file before it
    (0L to 9L).foreach(v => Files.delete(log.resolve(f"$v%020d.json")))
    assert((t.statsColumn, t.schemaOf(11L), t.constraintsOf(11L), t.lastTxnId) == before)

    val filesBefore = t.activeFiles(11L)
    intercept[ConstraintViolationException] {
      t.append(Seq((-5L, "bad", 1.0)).toDF("c_custkey", "c_name", "c_acctbal"))
    }
    assert(t.latestVersion == 11L && t.activeFiles(11L) == filesBefore)

    val (pruned, kept, total) = t.snapshotWhere(spark, lo = 1, hi = 20)
    assert(kept == 1 && total == filesBefore.size)
    assert(pruned.count() == base.filter($"c_custkey".between(1, 20)).count())

    val upd = Seq((10L, "U", "renamed", 5.0)).toDF("c_custkey", "op", "new_name", "new_bal")
    assert(t.merge(spark, upd, t.latestVersion, txnId = Some(8L)) == 12L)
    assert(t.snapshot(spark).filter($"c_custkey" === 10L)
      .select($"c_name").as[String].collect().toSeq == Seq("renamed"))
    assert(t.lastTxnId.contains(8L) && t.constraintsOf(12L) == before._3)
  }

  test("legacy checkpoints are not read: every version reads as the log replays it") {
    import spark.implicits._
    val t = VersionedTable.create(graft.ops.Core.tmp("vt_legacy_cp"),
      base.filter($"c_custkey" < 50), statsCol = Some("c_custkey")) // v0
    t.append(base.filter($"c_custkey" >= 50 && $"c_custkey" < 100),
      txnId = Some(3L)) // v1
    t.addCheckConstraint(spark, "key_nonneg", "c_custkey >= 0") // v2
    t.deleteWhere(spark, "c_custkey = 7", t.latestVersion) // v3
    t.append(base.filter($"c_custkey" >= 100)) // v4
    val log = t.root.resolve("_txn_log")
    def cpFile(v: Long) = log.resolve(f"$v%020d.checkpoint.json")
    def q(s: String) = "\"" + s + "\""
    // the oldest form held bare paths; the next added rows and stats
    Files.writeString(cpFile(2L),
      s"""{"version":2,"active":[${t.activeFiles(2L).map(q).mkString(",")}]}""")
    Files.writeString(cpFile(4L), s"""{"version":4,"active":[${t.activeAdds(4L).map { a =>
      val st = a.stats.map { case (mn, mx) => s""","min":$mn,"max":$mx""" }.getOrElse("")
      s"""{"path":${q(a.path)},"rows":${a.rows}$st}"""
    }.mkString(",")}]}""")
    def view(v: Long) = (logView(t, v), snapshotRows(t, v))
    val withLegacy = (0L to 4L).map(view)
    Seq(2L, 4L).foreach(v => Files.delete(cpFile(v)))
    assert((0L to 4L).map(view) == withLegacy)
  }

  test("vacuum keeps a live optimized layout and reclaims a superseded one recursively") {
    import spark.implicits._
    val t = VersionedTable.create(graft.ops.Core.tmp("vt_opt_vac"),
      base, statsCol = Some("c_custkey"))
    t.optimize(spark, $"c_custkey", nBuckets = 3, readVersion = 0L) // v1
    val n = t.snapshot(spark).count()
    // horizon = latest, zero age guard: v0's flat dir is reclaimable,
    // v1's nested bucket layout is LIVE and must survive the sweep
    val gone = t.vacuum(horizon = t.latestVersion, minAgeMs = 0L)
    assert(gone.nonEmpty, "v0's unreferenced dir should be reclaimed")
    assert(t.snapshot(spark).count() == n, "live optimized data vacuumed")
    // supersede the optimize with another rewrite; its nested dir now
    // becomes the victim and must delete recursively (bucket subdirs)
    t.optimize(spark, $"c_custkey", nBuckets = 2, readVersion = 1L) // v2
    val gone2 = t.vacuum(horizon = t.latestVersion, minAgeMs = 0L)
    assert(gone2.nonEmpty, "the superseded optimize dir should be reclaimed")
    assert(t.snapshot(spark).count() == n)
    // the vacuumed v1 fails fast, v2 still reads
    intercept[Exception] { t.snapshot(spark, Some(1L)).count() }
  }

  test("schema evolution: appends widen the logged schema; time travel reads the old one") {
    import spark.implicits._
    val t = VersionedTable.create(graft.ops.Core.tmp("vt_evo"),
      base.select($"c_custkey", $"c_acctbal"))
    val n0 = base.count()
    t.append(base.limit(10).select($"c_custkey" + 700000 as "c_custkey",
      $"c_acctbal", lit("GOLD").as("tier")))

    val latest = t.snapshot(spark)
    assert(latest.columns.toSeq == Seq("c_custkey", "c_acctbal", "tier"))
    // pre-evolution rows surface the new column as NULL; new rows carry it
    assert(latest.filter($"tier".isNull).count() == n0)
    assert(latest.filter($"tier" === "GOLD").count() == 10)
    // time travel reads the OLD schema — the later column does not exist
    assert(t.snapshot(spark, Some(0L)).columns.toSeq == Seq("c_custkey", "c_acctbal"))
    // a batch MISSING an existing column appends as NULL for it, and the
    // schema never narrows
    t.append(base.limit(5).select($"c_custkey" + 800000 as "c_custkey",
      $"c_acctbal"))
    val v2 = t.snapshot(spark)
    assert(v2.columns.toSeq == Seq("c_custkey", "c_acctbal", "tier"))
    assert(v2.filter($"c_custkey" >= 800000 && $"tier".isNull).count() == 5)
  }

  test("concurrent appenders: every writer lands, versions stay dense, nothing is lost") {
    import spark.implicits._
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val t = freshTable()
    val n0 = base.count()
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // 8 writers race on the same log; blind appends retry through
      // every lost publish, so ALL must land — the atomic hard-link
      // publish is the only serialization point
      val writers = (1 to 8).map { i =>
        Future {
          t.append(base.limit(3).select($"c_custkey" + (i * 10000) as "c_custkey",
            $"c_name", $"c_acctbal"), maxRetries = 50)
        }
      }
      val versions = Await.result(Future.sequence(writers), 120.seconds)
      assert(versions.toSet.size == 8, s"two appends claimed one version: $versions")
      assert(versions.max == 8L, s"versions not dense: $versions")
      assert(t.snapshot(spark).count() == n0 + 8 * 3)
    } finally pool.shutdown()
  }

  test("two-writer race: same read version, barrier-aligned commits — exactly one winner") {
    import spark.implicits._
    // The raw optimistic-concurrency contract, below append's retry
    // loop: two writers that each read version v and race the PHYSICAL
    // publish (hard-link creation) of v+1. The concurrent-appenders test
    // proves liveness through retries; this one proves the safety core —
    // a genuinely simultaneous pair of commit() calls on the SAME target
    // version yields exactly one winner and exactly one
    // CommitConflictException, never two versions, never zero, and the
    // loser's clean retry lands on the next version with both batches
    // visible. A CyclicBarrier inside the threads puts both publishes
    // in flight at once instead of sequencing them on the test thread.
    val t = freshTable()
    val rv = t.latestVersion
    def stage(tag: String): VersionedTable.AddEntry = {
      val rel = s"race-$tag"
      val df = Seq((900000L + tag.hashCode.abs % 1000, s"racer-$tag", 1.0))
        .toDF("c_custkey", "c_name", "c_acctbal")
      df.coalesce(1).write.parquet(t.root.resolve(rel).toString)
      VersionedTable.AddEntry(rel, 1L, None)
    }
    val adds = Seq(stage("a"), stage("b"))
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val results =
      new java.util.concurrent.ConcurrentHashMap[Int, Either[Throwable, Long]]()
    val threads = adds.zipWithIndex.map { case (add, i) =>
      new Thread(() => {
        barrier.await() // both commits in flight simultaneously
        try results.put(i, Right(t.commit("append", rv, Seq(add), Nil)))
        catch { case e: Throwable => results.put(i, Left(e)) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(30000))
    val (losers, winners) =
      (0 to 1).map(results.get).partition(_.isLeft)
    assert(winners.size == 1, s"expected exactly one winner, got $results")
    assert(winners.head == Right(rv + 1))
    assert(losers.size == 1 &&
      losers.head.left.exists(_.isInstanceOf[CommitConflictException]),
      s"loser must fail with CommitConflictException, got $results")
    // clean retry: the loser re-reads the fresh version and lands
    val lost = (0 to 1).find(i => results.get(i).isLeft).get
    val v2 = t.commit("append", t.latestVersion, Seq(adds(lost)), Nil)
    assert(v2 == rv + 2)
    val names = t.snapshot(spark).filter($"c_name".startsWith("racer-"))
      .select($"c_name").as[String].collect().toSet
    assert(names == Set("racer-a", "racer-b"))
  }

  test("change feed classifies null transitions as updates (null-safe struct compare)") {
    import spark.implicits._
    val t = freshTable()
    // v1: same keys, but every %5 key's balance goes to NULL — a plain
    // =!= compare returns null on those rows and would drop them
    val v1 = base.select($"c_custkey", $"c_name",
      when($"c_custkey" % 5 === 0, lit(null).cast("double"))
        .otherwise($"c_acctbal").as("c_acctbal"))
    t.overwrite(v1, readVersion = 0L)
    val feed = t.changes(spark, "c_custkey", 0L, 1L)
      .select($"c_custkey".as[Long], $"_change_type".as[String]).collect()
    val expectedUpdates = base.filter($"c_custkey" % 5 === 0 && $"c_acctbal".isNotNull).count()
    assert(feed.forall(_._2 == "update"))
    assert(feed.length == expectedUpdates,
      s"null-transition updates missing: ${feed.length} vs $expectedUpdates")
  }

  test("composeChanges: net-effect composition equals the direct two-version diff") {
    import spark.implicits._
    val t = freshTable()
    // v1: insert two keys, update %7 balances, delete %11∧¬%7
    val v1 = base.filter(!($"c_custkey" % 11 === 0 && $"c_custkey" % 7 =!= 0))
      .select($"c_custkey", $"c_name",
        when($"c_custkey" % 7 === 0, $"c_acctbal" + 3.25)
          .otherwise($"c_acctbal").as("c_acctbal"))
      .unionAll(Seq((900001L, "t1", 10.0), (900002L, "t2", 20.0))
        .toDF("c_custkey", "c_name", "c_acctbal"))
    t.overwrite(v1, readVersion = 0L)
    // v2 exercises every cancellation class: delete 900001 (insert∘delete
    // -> nothing), revert the %7 updates (update∘update -> nothing),
    // re-insert the %11 deletes with their ORIGINAL rows (delete∘insert of
    // an identical row -> nothing), update 900002 (insert∘update ->
    // net insert with the final image), and touch a fresh key
    val v2 = base // all %7 reverts and %11 re-inserts restore v0 exactly
      .unionAll(Seq((900002L, "t2", 25.0), (900003L, "t3", 30.0))
        .toDF("c_custkey", "c_name", "c_acctbal"))
    t.overwrite(v2, readVersion = 1L)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select($"c_custkey".as[Long], $"_change_type".as[String],
        $"_before.c_acctbal".as[Option[Double]],
        $"_after.c_acctbal".as[Option[Double]]).collect().toSet
    val composed = VersionedTable.composeChanges("c_custkey",
      t.changesWithImages(spark, "c_custkey", 0L, 1L),
      t.changesWithImages(spark, "c_custkey", 1L, 2L))
    val direct = t.changesWithImages(spark, "c_custkey", 0L, 2L)
    assert(canon(composed) == canon(direct),
      s"composition law broken: only-composed=${(canon(composed) -- canon(direct)).take(5)} " +
        s"only-direct=${(canon(direct) -- canon(composed)).take(5)}")
    // the cancellations actually happened: net feed touches exactly the
    // two keys that differ between v0 and v2
    assert(canon(composed).map(_._1) == Set(900002L, 900003L))
  }

  test("changesWithImages: per-class image nullity, and signed deltas roll an MV forward") {
    import spark.implicits._
    val t = freshTable()
    // v1: update %4 balances (+7.5), delete %9∧¬%4, insert 3 new keys
    val v1 = base.filter(!($"c_custkey" % 9 === 0 && $"c_custkey" % 4 =!= 0))
      .select($"c_custkey", $"c_name",
        when($"c_custkey" % 4 === 0, $"c_acctbal" + 7.5)
          .otherwise($"c_acctbal").as("c_acctbal"))
      .unionAll(Seq((900001L, "n1", 10.0), (900002L, "n2", 20.0),
        (900003L, "n3", 30.0)).toDF("c_custkey", "c_name", "c_acctbal"))
    t.overwrite(v1, readVersion = 0L)
    val feed = t.changesWithImages(spark, "c_custkey", 0L, 1L).cache()
    // image nullity per class is the API contract consumers branch on
    assert(feed.filter($"_change_type" === "insert" &&
      ($"_before".isNotNull || $"_after".isNull)).count() == 0)
    assert(feed.filter($"_change_type" === "delete" &&
      ($"_before".isNull || $"_after".isNotNull)).count() == 0)
    assert(feed.filter($"_change_type" === "update" &&
      ($"_before".isNull || $"_after".isNull)).count() == 0)
    // update images must carry both sides of the value move
    assert(feed.filter($"_change_type" === "update").count() > 0)
    assert(feed.filter($"_change_type" === "update" &&
      $"_after.c_acctbal" =!= $"_before.c_acctbal" + 7.5).count() == 0)
    // the q141 algebra: MV(v0) + signed deltas == direct aggregate of v1,
    // exactly (decimal state)
    val dec = org.apache.spark.sql.types.DecimalType(18, 2)
    val mv0 = t.snapshot(spark, Some(0L))
      .groupBy(($"c_custkey" % 10).as("b"))
      .agg(count(lit(1)).as("cnt"), sum($"c_acctbal".cast(dec)).as("bal"))
    val rolled = mv0.unionByName(feed.select(($"c_custkey" % 10).as("b"),
        when($"_change_type" === "insert", 1L)
          .when($"_change_type" === "delete", -1L).otherwise(0L).as("cnt"),
        (coalesce($"_after.c_acctbal".cast(dec), lit(0).cast(dec))
          - coalesce($"_before.c_acctbal".cast(dec), lit(0).cast(dec))).as("bal")))
      .groupBy($"b").agg(sum($"cnt").as("cnt"), sum($"bal").cast(dec).as("bal"))
      .filter($"cnt" > 0)
    val direct = t.snapshot(spark, Some(1L))
      .groupBy(($"c_custkey" % 10).as("b"))
      .agg(count(lit(1)).as("cnt"), sum($"c_acctbal".cast(dec)).cast(dec).as("bal"))
    assert(rolled.exceptAll(direct).isEmpty && direct.exceptAll(rolled).isEmpty)
    feed.unpersist()
  }

  test("q190 algebra: join-MV(v0) + (signed deltas ⋈ static side) == recompute; updates delta-free") {
    import spark.implicits._
    val t = freshTable()
    val v1 = base.filter(!($"c_custkey" % 9 === 0 && $"c_custkey" % 4 =!= 0))
      .select($"c_custkey", $"c_name",
        when($"c_custkey" % 4 === 0, $"c_acctbal" + 7.5)
          .otherwise($"c_acctbal").as("c_acctbal"))
      .unionAll(Seq((900001L, "n1", 10.0)).toDF("c_custkey", "c_name", "c_acctbal"))
    t.overwrite(v1, readVersion = 0L)
    // static join side: 3 "orders" per existing key (inserted 900001 has
    // none — its delta must vanish through the inner join)
    val side = base.select($"c_custkey".as("k"))
      .select($"k", explode(sequence(lit(1), lit(3))).as("i"))
      .select($"k", ($"k" * 10 + $"i").as("amt"))
    val mv0 = t.snapshot(spark, Some(0L)).select($"c_custkey".as("k"))
      .join(side, "k")
      .groupBy(($"k" % 7).as("b"))
      .agg(count(lit(1)).as("n"), sum($"amt").as("s"))
    val feed = t.changesWithImages(spark, "c_custkey", 0L, 1L)
    val signed = feed.select($"c_custkey".as("k"),
      when($"_change_type" === "insert", 1L)
        .when($"_change_type" === "delete", -1L).otherwise(0L).as("sgn"))
      .filter($"sgn" =!= 0L) // non-key updates: zero join delta by rule
    val rolled = mv0.unionByName(
        signed.join(side, "k").groupBy(($"k" % 7).as("b"))
          .agg(sum($"sgn").as("n"), sum($"sgn" * $"amt").as("s")))
      .groupBy($"b").agg(sum($"n").as("n"), sum($"s").as("s"))
      .filter($"n" > 0)
    val direct = t.snapshot(spark, Some(1L)).select($"c_custkey".as("k"))
      .join(side, "k")
      .groupBy(($"k" % 7).as("b"))
      .agg(count(lit(1)).as("n"), sum($"amt").as("s"))
    assert(rolled.exceptAll(direct).isEmpty && direct.exceptAll(rolled).isEmpty,
      "join-delta roll-forward diverged from the direct recompute")
    // the update wave really was excluded, and really was non-empty
    assert(feed.filter($"_change_type" === "update").count() > 0)
  }

  test("q193: flagged buckets are exactly the buckets holding a corrupted or lost key") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val out = TableOps.queries("q193_merkle_diff")(spark, dir)
      .select($"bucket").as[Long].collect().toSet
    val expected = graft.Tables.customer(spark, dir)
      .filter($"c_custkey" % 97 === 5 || $"c_custkey" % 101 === 7)
      .select(($"c_custkey" % 64).as("b")).as[Long].collect().toSet
    assert(out == expected,
      s"false positives: ${out -- expected}; misses: ${expected -- out}")
    assert(out.nonEmpty)
    // count drift distinguishes loss from corruption: some flagged
    // bucket must have equal counts (pure corruption) on this pattern
    val rows = TableOps.queries("q193_merkle_diff")(spark, dir).collect()
    assert(rows.exists(_.getAs[Boolean]("same_count")))
    assert(rows.exists(!_.getAs[Boolean]("same_count")))
  }

  test("changesWithImages fails loudly on a duplicated key instead of fanning out") {
    import spark.implicits._
    val t = freshTable()
    // v1 carries key 1 twice — the one-row-per-key precondition broken
    val v1 = base.unionAll(Seq((1L, "dup", 99.0))
      .toDF("c_custkey", "c_name", "c_acctbal"))
    t.overwrite(v1, readVersion = 0L)
    val e = intercept[Exception] {
      t.changesWithImages(spark, "c_custkey", 0L, 1L).count()
    }
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Nil else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    assert(msgs(e).exists(_.contains("duplicate 'c_custkey'")),
      s"expected the dup-key guard, got: ${e.getMessage}")
    // restoring uniqueness clears the guard on the same table
    t.overwrite(base, readVersion = 1L)
    assert(t.changes(spark, "c_custkey", 0L, 2L).count() == 0)
  }

  test("GDPR erasure: delete-merge + vacuum leaves no active or on-disk trace of the key") {
    import spark.implicits._
    val victim = 42L
    val t = freshTable()
    // the erasure request: a delete-class change for the key, applied as
    // a normal rewriting merge...
    val erase = Seq(victim).toDF("c_custkey")
      .select($"c_custkey", lit("D").as("op"),
        lit(null).cast("string").as("new_name"),
        lit(null).cast("double").as("new_bal"))
    t.merge(spark, erase, readVersion = 0L)
    assert(t.snapshot(spark).filter($"c_custkey" === victim).count() == 0)
    // ...but the PRE-merge version still holds the row (immutability) —
    // compliance requires vacuuming history up to the erasure commit
    assert(t.snapshot(spark, Some(0L)).filter($"c_custkey" === victim).count() == 1)
    t.vacuum(horizon = t.latestVersion, minAgeMs = 0L) // test files are seconds old
    // nothing on disk under data/ contains the key anymore
    val remaining = spark.read.parquet(
      t.activeFiles(t.latestVersion).map(f => t.root.resolve(f).toString): _*)
    assert(remaining.filter($"c_custkey" === victim).count() == 0)
    val dataDirs = Files.list(t.root.resolve("data"))
    try {
      import scala.jdk.CollectionConverters._
      val all = dataDirs.iterator().asScala.map(_.toString).toList
      assert(all.size == t.activeFiles(t.latestVersion).size,
        s"vacuum left unreferenced data dirs: $all")
    } finally dataDirs.close()
  }

  test("CDC through the table resumes exactly-once from a checkpoint") {
    import spark.implicits._
    val t = freshTable()
    // +100 is NOT idempotent: a replayed b0 would show as +200
    val upd1 = base.filter($"c_custkey" % 10 === 0)
      .select($"c_custkey", lit("U").as("op"),
        lit(null).cast("string").as("new_name"),
        ($"c_acctbal" + 100.0).as("new_bal"))
    val upd2 = base.filter($"c_custkey" % 10 === 5)
      .select($"c_custkey", lit("U").as("op"),
        lit(null).cast("string").as("new_name"),
        ($"c_acctbal" + 7.0).as("new_bal"))
    val feedDir = graft.ops.Core.tmp("vt_cdc_cp_feed")
    val cpDir = graft.ops.Core.tmp("vt_cdc_cp")
    changeFile(upd1, feedDir, "b0.parquet")
    graft.streaming.CdcApply.runThroughTable(spark, t, feedDir, "vt_cp_run1", Some(cpDir))
    assert(t.latestVersion == 1L)
    changeFile(upd2, feedDir, "b1.parquet")
    graft.streaming.CdcApply.runThroughTable(spark, t, feedDir, "vt_cp_run2", Some(cpDir))
    // exactly one commit per NEW file — the restart neither replayed b0
    // (no +200 balances) nor skipped b1
    assert(t.latestVersion == 2L, s"restart replayed or skipped: at ${t.latestVersion}")
    val expected = graft.streaming.CdcApply.mergeBatch(
      graft.streaming.CdcApply.mergeBatch(base, upd1), upd2)
      .orderBy("c_custkey").collect()
    assert(t.snapshot(spark).orderBy("c_custkey").collect().sameElements(expected))
  }

  test("txn cursor: the last batch id survives interleaved commits (replay guard)") {
    import spark.implicits._
    val t = freshTable()
    assert(t.lastTxnId.isEmpty)
    val upd = base.filter($"c_custkey" % 10 === 0)
      .select($"c_custkey", lit("U").as("op"),
        lit(null).cast("string").as("new_name"),
        ($"c_acctbal" + 1.0).as("new_bal"))
    t.merge(spark, upd, t.latestVersion, txnId = Some(7L))
    assert(t.lastTxnId.contains(7L))
    // a non-txn commit (compaction, manual append) must not erase the
    // cursor — runThroughTable's replay check scans past it
    t.append(base.limit(2))
    assert(t.lastTxnId.contains(7L))
    // the at-least-once guard: a replayed batch id <= cursor is skipped
    assert(t.lastTxnId.exists(_ >= 7L))
    assert(!t.lastTxnId.exists(_ >= 8L))
  }

  test("restore rolls content and schema back as a new commit; history stays travelable") {
    import spark.implicits._
    val t = freshTable() // v0 = base
    t.append(base.filter($"c_custkey" % 5 === 0)
      .select(($"c_custkey" + 900000).as("c_custkey"), $"c_name",
        $"c_acctbal", lit("gold").as("tier"))) // v1 widens schema
    t.overwrite(base.limit(3), readVersion = 1L) // v2 shrinks to 3 rows
    val v3 = t.restore(toVersion = 1L, readVersion = 2L)
    assert(v3 == 3L)
    // latest == v1 content AND v1 schema (tier back, overwrite undone)
    val latest = t.snapshot(spark)
    val v1 = t.snapshot(spark, Some(1L))
    assert(latest.columns.toSeq == v1.columns.toSeq)
    assert(latest.count() == v1.count())
    assert(latest.exceptAll(v1).count() == 0 && v1.exceptAll(latest).count() == 0)
    // the rolled-back v2 is still there for time travel
    assert(t.snapshot(spark, Some(2L)).count() == 3)
    // restore the restore away: back to the 3-row overwrite state
    t.restore(toVersion = 2L, readVersion = 3L)
    assert(t.snapshot(spark).count() == 3)
  }

  test("restore conflicts propagate when a racer commits first") {
    import spark.implicits._
    val t = freshTable() // v0
    t.append(base.limit(5)) // v1
    val rv = t.latestVersion
    t.append(base.limit(2)) // racer lands v2
    intercept[CommitConflictException] {
      t.restore(toVersion = 0L, readVersion = rv)
    }
    // recompute against the new latest and it lands
    val v = t.restore(toVersion = 0L, readVersion = t.latestVersion)
    assert(v == 3L)
    assert(t.snapshot(spark).count() == base.count())
  }

  test("model check: every version of a random op history matches an in-memory model") {
    import spark.implicits._
    // a seeded op sequence (append / overwrite / delete-merge /
    // optimize / restore) executed against BOTH the table and a plain
    // in-memory key set; afterwards EVERY version's snapshot must
    // reproduce its model state exactly — the whole-history contract
    // none of the single-op tests pin. optimize is layout-only (model
    // unchanged); restore jumps the model to the targeted past state.
    val rnd = new scala.util.Random(42)
    def rows(ks: Seq[Long]) = ks.toDF("c_custkey")
      .select($"c_custkey", concat(lit("n"), $"c_custkey").as("c_name"),
        ($"c_custkey" * 1.5).as("c_acctbal"))

    var model = (0L until 30L).toSet
    val history = scala.collection.mutable.ArrayBuffer(model)
    val t = VersionedTable.create(graft.ops.Core.tmp("vt_model"), rows(model.toSeq))
    var nextKey = 1000L
    (1 to 10).foreach { _ =>
      rnd.nextInt(5) match {
        case 0 => // append a fresh batch
          val batch = (nextKey until nextKey + 5).toSet
          nextKey += 5
          t.append(rows(batch.toSeq))
          model = model ++ batch
        case 1 => // overwrite with a random subset
          model = model.filter(_ => rnd.nextBoolean())
          if (model.isEmpty) model = Set(nextKey) // keep the table non-empty
          if (model == history.last) model = model + { nextKey += 1; nextKey }
          t.overwrite(rows(model.toSeq), t.latestVersion)
        case 2 => // merge deleting a random subset (always leave a survivor)
          var dels = model.filter(_ => rnd.nextInt(3) == 0)
          if (dels == model && dels.nonEmpty) dels = dels - dels.head
          val changes = rows(dels.toSeq).select($"c_custkey", lit("D").as("op"),
            lit(null).cast("string").as("new_name"),
            lit(null).cast("double").as("new_bal"))
          t.merge(spark, changes, t.latestVersion)
          model = model -- dels
        case 3 => // optimize: clustered rewrite, content must not move
          t.optimize(spark, $"c_custkey", nBuckets = 1 + rnd.nextInt(3),
            readVersion = t.latestVersion)
        case 4 => // restore to a random past version
          val target = rnd.nextInt(history.size).toLong
          t.restore(toVersion = target, readVersion = t.latestVersion)
          model = history(target.toInt)
      }
      history += model
    }
    history.zipWithIndex.foreach { case (expected, v) =>
      val got = t.snapshot(spark, Some(v.toLong))
        .select("c_custkey").as[Long].collect().toSet
      assert(got == expected, s"version $v diverged from the model")
    }
  }

  test("CDC stream commits one table version per micro-batch (durable CdcApply)") {
    import spark.implicits._
    val t = freshTable()

    // three batches over DISJOINT key sets: updates, deletes, inserts
    val upd = base.filter($"c_custkey" % 10 === 0)
      .select($"c_custkey", lit("U").as("op"),
        lit(null).cast("string").as("new_name"),
        ($"c_acctbal" + 100.0).as("new_bal"))
    val del = base.filter($"c_custkey" % 7 === 3 && $"c_custkey" % 10 =!= 0)
      .select($"c_custkey", lit("D").as("op"),
        lit(null).cast("string").as("new_name"),
        lit(null).cast("double").as("new_bal"))
    val ins = base.filter($"c_custkey" % 13 === 1)
      .select(($"c_custkey" + 100000).as("c_custkey"), lit("I").as("op"),
        concat(lit("Customer#new"), $"c_custkey".cast("string")).as("new_name"),
        lit(1000.0).as("new_bal"))

    val feedDir = graft.ops.Core.tmp("vt_cdc_feed")
    changeFile(upd, feedDir, "b0.parquet")
    changeFile(del, feedDir, "b1.parquet")
    changeFile(ins, feedDir, "b2.parquet")

    graft.streaming.CdcApply.runThroughTable(spark, t, feedDir)

    // one version per batch: v0 create + v1/v2/v3 merges
    assert(t.latestVersion == 3L, s"expected 3 merge commits, log at ${t.latestVersion}")
    val finalState = t.snapshot(spark).orderBy("c_custkey").collect()
    val expected = graft.streaming.CdcApply.mergeBatch(
      graft.streaming.CdcApply.mergeBatch(
        graft.streaming.CdcApply.mergeBatch(base, upd), del), ins)
      .orderBy("c_custkey").collect()
    assert(finalState.sameElements(expected), "streamed table != sequential merges")
    // the key sets are disjoint, so the batches also equal ONE merge
    val oneShot = graft.streaming.CdcApply.mergeBatch(base,
      upd.unionAll(del).unionAll(ins)).orderBy("c_custkey").collect()
    assert(finalState.sameElements(oneShot), "streamed table != one-shot merge")
    // deletes removed, inserts present, an update took effect
    val keys = finalState.map(_.getLong(0)).toSet
    assert(!keys.exists(k => k % 7 == 3 && k % 10 != 0 && k < 100000))
    assert(keys.exists(_ >= 100000))
    val k0 = base.filter($"c_custkey" % 10 === 0).orderBy("c_custkey").first()
    assert(finalState.find(_.getLong(0) == k0.getLong(0)).get.getDouble(2) ==
      k0.getDouble(2) + 100.0)
    // and every intermediate batch boundary is time-travelable
    assert(t.snapshot(spark, Some(1L)).count() == base.count()) // updates only
  }

  test("DELETE WHERE rewrites only touched files; vacuum makes removal physical") {
    import spark.implicits._
    val t = freshTable() // v0: one file of customer rows
    // v1: a second file whose key range the predicate never touches
    t.append(Seq((990001L, "far", 1.0), (990002L, "far", 2.0))
      .toDF("c_custkey", "c_name", "c_acctbal"))
    val rv = t.latestVersion
    val before = t.activeFiles(rv)
    val untouchedBefore = before.toSet

    val nMatch = t.snapshot(spark).filter($"c_custkey" % 10 === 3).count()
    assert(nMatch > 0)
    val v = t.deleteWhere(spark, "c_custkey % 10 = 3", rv)
    assert(v == rv + 1)

    // rows gone at the new version, intact under time travel
    assert(t.snapshot(spark).filter($"c_custkey" % 10 === 3).count() == 0)
    assert(t.snapshot(spark).count() == base.count() + 2 - nMatch)
    assert(t.snapshot(spark, Some(rv))
      .filter($"c_custkey" % 10 === 3).count() == nMatch)

    // file-level pruning: the appended far-range file contains no
    // matches, so its entry must survive the delete UNTOUCHED
    val after = t.activeFiles(t.latestVersion).toSet
    val survivors = after.intersect(untouchedBefore)
    assert(survivors.nonEmpty,
      s"delete rewrote every file — pruning lost: before=$before after=$after")
    assert(t.snapshot(spark).filter($"c_custkey" >= 990000L).count() == 2)

    // a predicate matching nothing publishes NO commit
    assert(t.deleteWhere(spark, "c_custkey = -424242", t.latestVersion) == -1L)

    // physical removal: vacuum past the delete's horizon deletes the
    // pre-delete file bytes from disk — the right-to-be-forgotten half
    val vacuumed = t.vacuum(horizon = t.latestVersion, minAgeMs = 0L)
    val rewritten = before.toSet.diff(after)
    assert(rewritten.subsetOf(vacuumed.toSet),
      s"pre-delete files still on disk: ${rewritten.diff(vacuumed.toSet)}")
    rewritten.foreach { rel =>
      assert(!Files.exists(t.root.resolve(rel)), s"$rel bytes survived vacuum")
    }
    assert(t.snapshot(spark).filter($"c_custkey" % 10 === 3).count() == 0)
  }

  test("CHECK constraints: enforced on append/merge, versioned, durable across reopen") {
    import spark.implicits._
    val t = freshTable()
    val vAdd = t.addCheckConstraint(spark, "key_nonneg", "c_custkey >= 0")
    assert(t.checkConstraints == Seq(("key_nonneg", "c_custkey >= 0")))

    // a clean batch appends; a violating batch is rejected NAMING the
    // constraint and publishes nothing (no version, no data file)
    t.append(Seq((90001L, "ok", 1.0)).toDF("c_custkey", "c_name", "c_acctbal"))
    val vBefore = t.latestVersion
    val filesBefore = t.activeFiles(vBefore).toSet
    val e = intercept[ConstraintViolationException] {
      t.append(Seq((-5L, "bad", 1.0)).toDF("c_custkey", "c_name", "c_acctbal"))
    }
    assert(e.getMessage.contains("key_nonneg"))
    assert(t.latestVersion == vBefore)
    assert(t.activeFiles(t.latestVersion).toSet == filesBefore)

    // NULL predicate passes (SQL CHECK semantics)
    t.append(Seq((null.asInstanceOf[java.lang.Long], "nullkey", 1.0))
      .toDF("c_custkey", "c_name", "c_acctbal"))

    // merge validates the merged RESULT: an update driving a row below
    // the floor is rejected even though the key already exists
    t.addCheckConstraint(spark, "bal_nonneg", "c_acctbal >= -100000")
    val badUpd = Seq((90001L, "U", null.asInstanceOf[String], -999999.0))
      .toDF("c_custkey", "op", "new_name", "new_bal")
    intercept[ConstraintViolationException] {
      t.merge(spark, badUpd, t.latestVersion)
    }

    // ADD CONSTRAINT validates EXISTING rows
    intercept[ConstraintViolationException] {
      t.addCheckConstraint(spark, "impossible", "c_custkey > 1000000000")
    }
    assert(!t.checkConstraints.exists(_._1 == "impossible"))

    // durable: a fresh handle on the same root sees the set; the set is
    // versioned, so time travel BEFORE vAdd shows none
    val t2 = VersionedTable.open(t.root.toString)
    assert(t2.checkConstraints.map(_._1).toSet == Set("key_nonneg", "bal_nonneg"))
    assert(t2.constraintsOf(vAdd - 1).isEmpty)

    // drop re-admits the batch
    t2.dropCheckConstraint("key_nonneg")
    t2.append(Seq((-5L, "now ok", 1.0)).toDF("c_custkey", "c_name", "c_acctbal"))
    assert(t2.snapshot(spark).filter($"c_custkey" === -5L).count() == 1)
  }

  test("log lines stay well-formed JSON whatever the stats column and paths are named") {
    import spark.implicits._
    val odd = "a\"b"
    val df = base.select($"c_custkey".as(odd), $"c_name")
    val t = VersionedTable.create(graft.ops.Core.tmp("vt_quote"),
      df.filter(col(s"`$odd`") < 50), statsCol = Some(odd))
    assert(t.statsColumn.contains(odd))
    t.append(df.filter(col(s"`$odd`") >= 50))
    assert(t.latestVersion == 1)
    assert(t.snapshot(spark).count() == base.count())
    val (skipped, kept, total) = t.snapshotWhere(spark, lo = 60, hi = 90)
    assert(total == 2 && kept == 1)
    assert(skipped.count() == base.filter($"c_custkey".between(60, 90)).count())

    // paths, removes and op names with quotes and backslashes round-trip
    // through a commit and a checkpoint
    val path = "data/q\"uote\\d"
    val v = t.commit("odd \"op\"", t.latestVersion,
      Seq(VersionedTable.AddEntry(path, 0L, None)), Seq(t.activeFiles(t.latestVersion).head))
    assert(t.activeFiles(v).contains(path))
    assert(t.checkpoint() == v)
    assert(t.activeFiles(v) == Seq(t.activeFiles(v - 1).last, path))
  }

  test("the logged schema is the snapshot's schema after every write path") {
    import spark.implicits._
    val root = graft.ops.Core.tmp("vt_nullable")
    // tuples of primitives: Spark declares c_custkey and c_acctbal NOT NULL
    val nonNull = Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("c_custkey", "c_name", "c_acctbal")
    assert(!nonNull.schema("c_custkey").nullable && !nonNull.schema("c_acctbal").nullable)
    val t = VersionedTable.create(root, nonNull)
    def logsSnapshotSchema(after: String): Unit = {
      val v = t.latestVersion
      assert(t.schemaOf(v) == Some(t.snapshot(spark, Some(v)).schema), s"after $after")
    }
    logsSnapshotSchema("create")
    Seq((3L, "c", 3.0)).toDF("c_custkey", "c_name", "c_acctbal")
      .write.format("graft-table").mode("append").save(root)
    logsSnapshotSchema("connector append")
    nonNull.write.format("graft-table").mode("overwrite").save(root)
    logsSnapshotSchema("connector overwrite")
    t.merge(spark, Seq((1L, "U", "renamed", 5.0)).toDF("c_custkey", "op", "new_name", "new_bal"),
      t.latestVersion)
    logsSnapshotSchema("merge")

    // the connector resolves against the logged schema: a null the
    // snapshot can hold is a null the connector accepts
    val v = t.latestVersion
    Seq((4L, "d", Option.empty[Double])).toDF("c_custkey", "c_name", "c_acctbal")
      .write.format("graft-table").mode("append").save(root)
    assert(t.latestVersion == v + 1)
    assert(t.snapshot(spark).filter($"c_acctbal".isNull).select($"c_custkey").as[Long]
      .collect().toSeq == Seq(4L))
  }
}
