package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSessionTestWrapper
import graft.table.{ConstraintViolationException, VersionedTable}

/** The DSv2 WRITE connector's transactional contract: each write is one
  * `VersionedTable` append or overwrite published as one atomic log
  * commit, constraint enforcement before visibility, and Spark's by-name
  * resolution rejecting an incompatible frame before any task runs.
  */
class GraftTableSinkSpec extends AnyFunSuite with SparkSessionTestWrapper {
  private val dir = "/root/testdata/sf0.001"

  private def base = {
    import spark.implicits._
    graft.Tables.customer(spark, dir)
      .select($"c_custkey", $"c_name", $"c_acctbal")
  }

  test("connector append: one atomic version, every partition's file lands") {
    import spark.implicits._
    val root = graft.ops.Core.tmp("vt_sink_append")
    val t = VersionedTable.create(root, base)
    val n0 = t.snapshot(spark).count()
    val v0 = t.latestVersion

    val batch = Seq((800001L, "w1", 1.0), (800002L, "w2", 2.0),
      (800003L, "w3", 3.0), (800004L, "w4", 4.0))
      .toDF("c_custkey", "c_name", "c_acctbal")
      .repartition(3) // several tasks -> several staged files, ONE commit
    batch.write.format("graft-table").mode("append").save(root)

    assert(t.latestVersion == v0 + 1, "parallel write must publish ONE version")
    assert(t.snapshot(spark).count() == n0 + 4)
    assert(t.snapshot(spark).filter($"c_name".startsWith("w")).count() == 4)
    // the read connector sees the write connector's commit
    val log = spark.read.format("graft-table-log").load(root)
      .filter($"version" === v0 + 1).collect()
    assert(log.length == 1 && log.head.getAs[String]("op") == "append")
    assert(log.head.getAs[Long]("rows_added") == 4L)
    assert(log.head.getAs[Int]("n_adds") >= 1)
  }

  test("connector overwrite: transactional replace, history stays travelable") {
    import spark.implicits._
    val root = graft.ops.Core.tmp("vt_sink_ow")
    val t = VersionedTable.create(root, base)
    val v0 = t.latestVersion
    val n0 = t.snapshot(spark).count()

    Seq((900001L, "only", 9.0)).toDF("c_custkey", "c_name", "c_acctbal")
      .write.format("graft-table").mode("overwrite").save(root)

    assert(t.latestVersion == v0 + 1)
    assert(t.snapshot(spark).count() == 1)
    assert(t.snapshot(spark, Some(v0)).count() == n0,
      "time travel must still read the replaced content")
    val log = spark.read.format("graft-table-log").load(root)
      .filter($"version" === v0 + 1).collect().head
    assert(log.getAs[String]("op") == "overwrite")
    assert(log.getAs[Int]("n_removes") >= 1)
  }

  test("CHECK constraints gate the connector commit; nothing becomes visible") {
    import spark.implicits._
    val root = graft.ops.Core.tmp("vt_sink_check")
    val t = VersionedTable.create(root, base)
    t.addCheckConstraint(spark, "bal_nonneg", "c_acctbal >= -100000")
    val v = t.latestVersion
    val files = t.activeFiles(v).toSet

    val bad = Seq((900002L, "bad", -999999.0))
      .toDF("c_custkey", "c_name", "c_acctbal")
    intercept[ConstraintViolationException] {
      bad.write.format("graft-table").mode("append").save(root)
    }
    assert(t.latestVersion == v, "a rejected write must not advance the log")
    assert(t.activeFiles(t.latestVersion).toSet == files)
    assert(t.snapshot(spark).filter($"c_name" === "bad").count() == 0)
  }

  test("unsupported column types fail at write build, naming the column") {
    import spark.implicits._
    val root = graft.ops.Core.tmp("vt_sink_types")
    VersionedTable.create(root, base)
    val arrDf = Seq((1L, "x", 1.0)).toDF("c_custkey", "c_name", "c_acctbal")
      .withColumn("c_name", array($"c_name"))
    val e = intercept[Exception] {
      arrDf.write.format("graft-table").mode("append").save(root)
    }
    // either our mapping error (column named) or Spark's output resolver
    // rejecting the schema mismatch - both BEFORE any task runs
    assert(e.getMessage.contains("c_name") || e.getMessage.contains("schema"),
      s"unexpected failure text: ${e.getMessage}")
  }

  test("stats column min/max ride the connector write and prune files") {
    import spark.implicits._
    val root = graft.ops.Core.tmp("vt_sink_stats")
    val t = VersionedTable.create(root, base, statsCol = Some("c_custkey"))
    val before = t.activeFiles(t.latestVersion).toSet
    Seq((700001L, "hi", 1.0), (700009L, "hi2", 2.0))
      .toDF("c_custkey", "c_name", "c_acctbal")
      .coalesce(1)
      .write.format("graft-table").mode("append").save(root)
    val newFiles = t.activeFiles(t.latestVersion).filterNot(before)
    assert(newFiles.size == 1, s"one connector write, one add entry: $newFiles")
    assert(t.fileStats(t.latestVersion).get(newFiles.head) == Some((700001L, 700009L)),
      "connector file must carry stats")
    // skipping proof: a probe outside the new file's range never lists it
    val (pruned, kept, total) = t.snapshotWhere(spark, 1L, 10L)
    assert(kept < total, "the out-of-range connector file must be pruned")
    assert(pruned.filter($"c_name".startsWith("hi")).count() == 0)
  }

  test("an empty connector append commits one version whose add has 0 rows") {
    val root = graft.ops.Core.tmp("vt_sink_empty")
    val t = VersionedTable.create(root, base)
    val v0 = t.latestVersion
    val n0 = t.snapshot(spark).count()

    base.limit(0).write.format("graft-table").mode("append").save(root)

    assert(t.latestVersion == v0 + 1, "an empty append commits, as VersionedTable.append does")
    val (op, adds, removes) = t.commitInfo(v0 + 1)
    assert(op == "append" && removes.isEmpty)
    assert(adds.map(_.rows) == Seq(0L))
    assert(t.snapshot(spark).count() == n0)
  }

  test("array and decimal columns: the connector writes every type append writes") {
    import spark.implicits._
    val root = graft.ops.Core.tmp("vt_sink_nested")
    def frame(rows: (Long, Seq[String], String)*) = rows.toDF("id", "tags", "amount")
      .select($"id", $"tags", $"amount".cast("decimal(12,2)").as("amount"))
    val t = VersionedTable.create(root, frame((1L, Seq("a", "b"), "10.25")))

    frame((2L, Seq("c"), "-3.50"), (3L, Nil, "0.01"))
      .write.format("graft-table").mode("append").save(root)

    assert(t.latestVersion == 1L)
    val got = t.snapshot(spark).orderBy("id").collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[String](1), r.getDecimal(2).toPlainString))
    assert(got == Seq((1L, Seq("a", "b"), "10.25"), (2L, Seq("c"), "-3.50"), (3L, Nil, "0.01")))
    assert(t.snapshot(spark).schema("amount").dataType.simpleString == "decimal(12,2)")
  }
}
