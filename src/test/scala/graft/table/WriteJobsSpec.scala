package graft.table

import java.util.UUID
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, CyclicBarrier, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSessionTestWrapper
import graft.ops.Core
import graft.streaming.CdcApply
import graft.table.VersionedTable.AddEntry

/** A table write runs its input dataflow once: the add entry's row count
  * and stats come from the write job itself, and they equal a recount of
  * the files the write left behind — empty results included.
  */
class WriteJobsSpec extends AnyFunSuite with SparkSessionTestWrapper {

  /** `n` customer rows with keys from `from`, read back from parquet so
    * the schema-inference job runs here, not inside a counted region.
    */
  private def customers(from: Long, n: Long): DataFrame = {
    val dir = Core.tmp("wj_in") + "/in"
    spark.range(from, from + n, 1, 4)
      .select(col("id").as("c_custkey"),
        concat(lit("name-"), col("id")).as("c_name"),
        (col("id") % 1000 / 10.0).as("c_acctbal"))
      .write.parquet(dir)
    spark.read.parquet(dir)
  }

  /** A CDC change batch (q62 shape): updates, deletes and inserts by key. */
  private def changes(upd: Seq[Long], del: Seq[Long], ins: Seq[Long]): DataFrame = {
    val rows = upd.map(k => Row(k, "U", s"upd-$k", 1.5)) ++
      del.map(k => Row(k, "D", null, null)) ++
      ins.map(k => Row(k, "I", s"ins-$k", 2.5))
    val dir = Core.tmp("wj_chg") + "/in"
    spark.createDataFrame(rows.asJava, CdcApply.changeSchema).write.parquet(dir)
    spark.read.parquet(dir)
  }

  /** Jobs started while `op` runs. A job started after `op` in a fence
    * group proves the listener bus has delivered every earlier job start.
    */
  private def jobsOf(op: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"wj-${UUID.randomUUID()}"
    val fence = s"$group-fence"
    val n = new AtomicInteger()
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => n.incrementAndGet()
          case `fence` => fenced.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try op finally sc.clearJobGroup()
      sc.setJobGroup(fence, fence)
      try sc.emptyRDD[Int].count() finally sc.clearJobGroup()
      assert(fenced.await(60, TimeUnit.SECONDS), "listener bus never delivered the fence job")
      n.get()
    } finally sc.removeSparkListener(listener)
  }

  private def plainWrite(df: DataFrame): Int =
    jobsOf(df.write.parquet(Core.tmp("wj_plain") + "/out"))

  /** The add entries of commit `v`, recounted from the files they name. */
  private def recount(t: VersionedTable, v: Long): Seq[AddEntry] = {
    val reader = spark.read.schema(t.schemaOf(v).get)
    t.commitInfo(v)._2.map { a =>
      val df = reader.parquet(t.root.resolve(a.path).toString)
      t.statsColumn match {
        case Some(c) =>
          val r = df.agg(count(lit(1)), min(col(c)).cast("long"),
            max(col(c)).cast("long")).head()
          AddEntry(a.path, r.getLong(0),
            if (r.isNullAt(1)) None else Some((r.getLong(1), r.getLong(2))))
        case None => AddEntry(a.path, df.count(), None)
      }
    }
  }

  private def assertExact(t: VersionedTable, v: Long): Seq[AddEntry] = {
    val logged = t.commitInfo(v)._2
    assert(logged.nonEmpty, s"version $v logged no add entry")
    assert(logged == recount(t, v), s"version $v: logged adds differ from the files")
    logged
  }

  private def assertEmpty(t: VersionedTable, v: Long): Unit =
    assert(assertExact(t, v).map(a => (a.rows, a.stats)) == Seq((0L, None)),
      s"version $v should log rows 0 and no stats")

  test("each write starts as many jobs as a plain write of the frame it writes") {
    val input = customers(0, 10000)
    val batch = customers(20000, 1000)
    val replacement = customers(40000, 1000)
    val chg = changes(upd = 40000L until 40100L, del = 40100L until 40200L,
      ins = 60000L until 60100L)
    val root = Core.tmp("wj_jobs")

    val createPlain = plainWrite(input)
    assert(jobsOf(VersionedTable.create(root, input, statsCol = Some("c_custkey"))) ==
      createPlain, "create")
    val t = VersionedTable.open(root)

    val appendPlain = plainWrite(batch)
    assert(jobsOf(t.append(batch)) == appendPlain, "append")

    val overwritePlain = plainWrite(replacement)
    assert(jobsOf(t.overwrite(replacement, t.latestVersion)) == overwritePlain, "overwrite")

    var rv = t.latestVersion
    val mergePlain = plainWrite(CdcApply.mergeBatch(t.snapshot(spark, Some(rv)), chg))
    assert(jobsOf(t.merge(spark, chg, rv)) == mergePlain, "merge")

    // the table holds one file now, so the delete rewrites exactly it
    rv = t.latestVersion
    val pred = "c_custkey % 10 = 3"
    val files = t.activeFiles(rv)
    assert(files.size == 1)
    val snap = t.snapshot(spark, Some(rv))
    val searchPlain = jobsOf(snap.where(expr(pred)).select(input_file_name()).distinct().collect())
    val keptPlain = plainWrite(spark.read.schema(snap.schema)
      .parquet(files.map(f => t.root.resolve(f).toString): _*)
      .where(not(coalesce(expr(pred), lit(false)))))
    assert(jobsOf(t.deleteWhere(spark, pred, rv)) == searchPlain + keptPlain, "deleteWhere")

    rv = t.latestVersion
    val compactPlain = plainWrite(t.snapshot(spark, Some(rv)).repartition(1))
    assert(jobsOf(t.compact(spark, Long.MaxValue, rv)) == compactPlain, "compact")

    (0L to t.latestVersion).foreach(v => assertExact(t, v))
  }

  test("logged rows and stats equal a recount of the written files, empty results included") {
    val input = customers(0, 2000)
    val t = VersionedTable.create(Core.tmp("wj_exact"), input, statsCol = Some("c_custkey"))
    t.append(customers(3000, 500))
    t.merge(spark, changes(upd = 0L until 50L, del = 50L until 80L, ins = 5000L until 5040L),
      t.latestVersion)
    assert(t.deleteWhere(spark, "c_custkey % 7 = 1", t.latestVersion) > 0)
    t.compact(spark, Long.MaxValue, t.latestVersion)
    (0L to t.latestVersion).foreach(v => assertExact(t, v))

    // a filter that removes every row
    assertEmpty(t, t.append(input.filter(col("c_custkey") < 0)))
    // a frame over an RDD with no partitions
    val noParts = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], input.schema)
    assert(noParts.rdd.getNumPartitions == 0)
    assertEmpty(t, t.append(noParts))
    assertEmpty(t, t.overwrite(input.limit(0), t.latestVersion))
    t.append(customers(3000, 500))
    // a merge that deletes every row, then compacting the empty result
    assertEmpty(t, t.merge(spark, changes(Nil, 3000L until 3500L, Nil), t.latestVersion))
    assertEmpty(t, t.compact(spark, Long.MaxValue, t.latestVersion))
    assert(t.snapshot(spark).count() == 0)
  }

  test("a table without a stats column logs exact rows and no stats") {
    val t = VersionedTable.create(Core.tmp("wj_nostats"), customers(0, 1000))
    t.append(customers(2000, 300))
    t.merge(spark, changes(upd = 0L until 10L, del = 10L until 40L, ins = 1500L until 1505L),
      t.latestVersion)
    t.deleteWhere(spark, "c_custkey >= 2000", t.latestVersion)
    (0L to t.latestVersion).foreach { v =>
      assert(assertExact(t, v).forall(_.stats.isEmpty), s"version $v logged stats")
    }
    assert(t.commitInfo(t.latestVersion)._2.map(_.rows) == Seq(1000L - 30L + 5L))
  }

  test("concurrent appends to two tables each log their own counts") {
    val rounds = 3
    val specs = Seq((0L, 700L), (100000L, 1300L)) // (first key, rows per batch)
    val batches = specs.map { case (from, n) =>
      (0 until rounds).map(i => customers(from + i * 10000L, n + i))
    }
    val tables = specs.map { case (from, n) =>
      VersionedTable.create(Core.tmp("wj_conc"), customers(from + 90000L, n),
        statsCol = Some("c_custkey"))
    }
    val barrier = new CyclicBarrier(2)
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val threads = tables.zip(batches).map { case (t, bs) =>
      new Thread(() =>
        try bs.foreach { b => barrier.await(60, TimeUnit.SECONDS); t.append(b) }
        catch { case e: Throwable => errors.add(e) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(300000))
    assert(errors.isEmpty, errors.asScala.map(_.toString).mkString("; "))
    tables.zip(specs).foreach { case (t, (from, n)) =>
      assert(t.latestVersion == rounds.toLong)
      (1 to rounds).foreach { v =>
        val i = v - 1
        val first = from + i * 10000L
        assert(assertExact(t, v.toLong).map(a => (a.rows, a.stats)) ==
          Seq((n + i, Some((first, first + n + i - 1)))))
      }
    }
  }
}
