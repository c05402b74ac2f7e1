package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.execution.ColumnarToRowExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSessionTestWrapper

/** The `graft-columnar` format + connector contract: lossless round
  * trip over every supported type (nulls included), column pruning that
  * reaches the scan, zone-map BLOCK skipping under pushed filters, the
  * vectorized (ColumnarBatch) read path, and overwrite semantics.
  */
class ColumnarSourceSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private def tmp(): String =
    Files.createTempDirectory("gcol_spec").toString

  // AQE wraps plans in AdaptiveSparkPlanExec / QueryStageExec whose
  // collect() does not descend into the wrapped plan; walk through them
  private def collectAll[T](p: org.apache.spark.sql.execution.SparkPlan)(
      pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, T]): Seq[T] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val here = if (pf.isDefinedAt(p)) Seq(pf(p)) else Nil
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    here ++ kids.flatMap(collectAll(_)(pf))
  }

  /** File name -> content hash over the head snapshot's files. */
  private def headHashes(dir: String): Map[String, Int] =
    ColumnarFormat.scopedFiles(dir, None).map(f => f.getFileName.toString ->
      java.util.Arrays.hashCode(java.nio.file.Files.readAllBytes(f))).toMap

  private def gcolScan(df: DataFrame): GcolScan = {
    val scans = collectAll(df.queryExecution.executedPlan) {
      case b: BatchScanExec => b.scan
    }
    assert(scans.size == 1, s"expected one BatchScan:\n${df.queryExecution}")
    scans.head.asInstanceOf[GcolScan]
  }

  private lazy val sample: DataFrame = {
    import spark.implicits._
    spark.range(0, 10000, 1, 4).select(
      $"id".as("k"),
      ($"id" * 2).cast(IntegerType).as("i"),
      when($"id" % 7 === 0, lit(null)).otherwise($"id".cast(DoubleType) / 3.0)
        .as("d"),
      when($"id" % 11 === 0, lit(null))
        .otherwise(concat(lit("row-"), format_string("%05d", $"id")))
        .as("s"),
      ($"id" % 3 === 0).as("b"),
      date_add(lit("1995-01-01").cast(DateType), ($"id" % 1000).cast(IntegerType))
        .as("dt"),
      timestamp_seconds($"id" * 1000).as("ts"))
  }

  test("round trip preserves every supported type, nulls included") {
    val dir = tmp()
    sample.write.format("graft-columnar").mode("overwrite").save(dir)
    val back = spark.read.format("graft-columnar").load(dir)
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      sample.schema.map(f => (f.name, f.dataType)))
    val a = sample.collect().map(_.toString).sorted
    val b = back.collect().map(_.toString).sorted
    assert(a.length === b.length)
    assert(a.sameElements(b), "row content drifted through the round trip")
  }

  test("the scan is columnar and bridges through ColumnarToRow") {
    val dir = tmp()
    sample.write.format("graft-columnar").mode("overwrite").save(dir)
    val df = spark.read.format("graft-columnar").load(dir)
      .groupBy().agg(sum("k"))
    assert(df.collect().head.getLong(0) === (0L until 10000L).sum)
    val plan = df.queryExecution.executedPlan
    val batchScans = collectAll(plan) { case b: BatchScanExec => b }
    assert(batchScans.size == 1)
    assert(batchScans.head.supportsColumnar,
      "BatchScan did not take the vectorized path")
    assert(collectAll(plan) { case c: ColumnarToRowExec => c }.nonEmpty,
      s"no ColumnarToRow bridge in:\n$plan")
  }

  test("column pruning reaches the scan (readSchema shrinks to the projection)") {
    val dir = tmp()
    sample.write.format("graft-columnar").mode("overwrite").save(dir)
    val df = spark.read.format("graft-columnar").load(dir).select("s", "k")
    val scan = gcolScan(df)
    assert(scan.readSchema().fieldNames.toSet === Set("k", "s"),
      s"scan reads ${scan.readSchema().fieldNames.mkString(",")}")
    assert(df.count() === 10000)
  }

  test("zone maps skip blocks under a selective pushed filter") {
    val dir = tmp()
    // sorted by k, small blocks -> tight non-overlapping zone maps
    sample.orderBy("k").repartition(1).sortWithinPartitions("k")
      .write.format("graft-columnar").option("rowsPerBlock", "1000")
      .mode("overwrite").save(dir)
    val df = spark.read.format("graft-columnar").load(dir)
      .filter(col("k") >= 9200L && col("k") < 9300L)
    val rows = df.collect()
    assert(rows.length === 100, "filter result wrong after block skipping")
    val scan = gcolScan(df)
    assert(scan.totalBlocks === 10, s"expected 10 blocks, ${scan.totalBlocks}")
    assert(scan.plannedBlocks === 1,
      s"zone maps kept ${scan.plannedBlocks}/${scan.totalBlocks} blocks")
    assert(scan.description().contains("PushedFilters"))
    assert(scan.pushedAccepted.nonEmpty, "range filter was not accepted")
  }

  test("string and null-test filters prune; unsupported shapes survive") {
    val dir = tmp()
    sample.orderBy("s").repartition(1).sortWithinPartitions("s")
      .write.format("graft-columnar").option("rowsPerBlock", "2000")
      .mode("overwrite").save(dir)
    // string equality on a sorted column: most blocks skipped
    val eq = spark.read.format("graft-columnar").load(dir)
      .filter(col("s") === "row-00042")
    assert(eq.count() === 1)
    val sEq = gcolScan(eq)
    assert(sEq.plannedBlocks < sEq.totalBlocks,
      s"string zone map never skipped (${sEq.plannedBlocks}/${sEq.totalBlocks})")
    // IsNull matches only blocks that actually hold nulls
    val nn = spark.read.format("graft-columnar").load(dir)
      .filter(col("s").isNull)
    assert(nn.count() === sample.filter(col("s").isNull).count())
  }

  test("overwrite replaces prior data; append accumulates") {
    import spark.implicits._
    val dir = tmp()
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.format("graft-columnar").mode("overwrite").save(dir)
    Seq((3L, "c")).toDF("k", "v")
      .write.format("graft-columnar").mode("append").save(dir)
    assert(spark.read.format("graft-columnar").load(dir).count() === 3)
    Seq((9L, "z")).toDF("k", "v")
      .write.format("graft-columnar").mode("overwrite").save(dir)
    val rows = spark.read.format("graft-columnar").load(dir).collect()
    assert(rows.toSeq === Seq(Row(9L, "z")))
  }

  test("unsupported column types fail at write-build time, named") {
    import spark.implicits._
    val dir = tmp()
    val err = intercept[Exception] {
      Seq((1, Array(1.0f))).toDF("k", "emb")
        .write.format("graft-columnar").mode("overwrite").save(dir)
    }
    assert(err.getMessage.contains("emb"), s"column not named: ${err.getMessage}")
  }

  test("runtime filtering replans blocks when a join hands the scan In-values") {
    import spark.implicits._
    val dir = tmp()
    spark.range(0, 10000).select($"id".as("k"), ($"id" * 3).as("payload"))
      .repartition(1).sortWithinPartitions("k")
      .write.format("graft-columnar").option("rowsPerBlock", "1000")
      .mode("overwrite").save(dir)
    // contract level: Spark hands In-values post-build-side; the scan
    // must shrink its block list on replan
    val df = spark.read.format("graft-columnar").load(dir)
    val scan = gcolScan(df)
    assert(scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]
      .filterAttributes().map(_.describe()).contains("k"))
    scan.toBatch.planInputPartitions()
    val before = scan.plannedBlocks
    assert(before === 10)
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("k", Array(42L, 43L, 8500L))))
    scan.toBatch.planInputPartitions()
    val after = scan.plannedBlocks
    assert(after === 2, s"runtime In did not prune: $before -> $after")
    assert(scan.runtimeApplied.nonEmpty)
    // integration level: the ENGINE drives it end-to-end — a dim with a
    // key-opaque selective predicate (tag, not k, so nothing is
    // statically inferable onto the fact side) broadcast-joins the gcol
    // fact; DPP executes the dim, hands the scan In(k, <dim keys>) and
    // the replan keeps only the blocks holding those keys
    // (DPP's benefit heuristic wants a fact side worth pruning: 100k
    // rows / 100 blocks clears it; 10k did not)
    val factDir = tmp()
    val dimDir = tmp()
    spark.range(0, 100000).select($"id".as("k"), ($"id" * 3).as("payload"))
      .repartition(1).sortWithinPartitions("k")
      .write.format("graft-columnar").option("rowsPerBlock", "1000")
      .mode("overwrite").save(factDir)
    spark.range(0, 100000).select($"id".as("k"),
        ($"id" / 1000L).cast("long").as("tag"))
      .write.mode("overwrite").parquet(dimDir)
    val joined = spark.read.format("graft-columnar").load(factDir)
      .join(spark.read.parquet(dimDir).filter($"tag" === 42L), "k")
    // execute JOINED itself (count() spawns a separate QueryExecution
    // whose scan instance is not the one inspected below)
    assert(joined.collect().length === 1000)
    val jScan = gcolScan(joined)
    assert(jScan.runtimeApplied.nonEmpty,
      "engine never invoked SupportsRuntimeFiltering.filter")
    assert(jScan.plannedBlocks === 1 && jScan.totalBlocks === 100,
      s"runtime pruning kept ${jScan.plannedBlocks}/${jScan.totalBlocks}")
  }

  test("limit pushdown caps planned blocks; filters disable the cap") {
    import spark.implicits._
    val dir = tmp()
    spark.range(0, 10000).select($"id".as("k"))
      .repartition(1).sortWithinPartitions("k")
      .write.format("graft-columnar").option("rowsPerBlock", "1000")
      .mode("overwrite").save(dir)
    val lim = spark.read.format("graft-columnar").load(dir).limit(1500)
    assert(lim.collect().length === 1500)
    val scan = gcolScan(lim)
    assert(scan.plannedBlocks === 2,
      s"LIMIT 1500 should plan 2 of 10 blocks, got ${scan.plannedBlocks}")
    // with a filter, block granularity could under-deliver — the cap
    // must not apply and the result stays exact
    val fl = spark.read.format("graft-columnar").load(dir)
      .filter($"k" >= 9000L).limit(500)
    assert(fl.collect().length === 500)
    assert(fl.collect().forall(_.getLong(0) >= 9000L))
  }

  test("per-segment compression: zstd/lz4 round-trip, shrink, and keep pruning") {
    val none = tmp(); val zstd = tmp(); val lz4 = tmp()
    val clustered = sample.orderBy("k").repartition(1).sortWithinPartitions("k")
    clustered.write.format("graft-columnar").option("rowsPerBlock", "1000")
      .mode("overwrite").save(none)
    clustered.write.format("graft-columnar").option("rowsPerBlock", "1000")
      .option("codec", "zstd").mode("overwrite").save(zstd)
    clustered.write.format("graft-columnar").option("rowsPerBlock", "1000")
      .option("codec", "lz4").mode("overwrite").save(lz4)
    def bytes(d: String) = ColumnarFormat.listFiles(d).map(_.toFile.length).sum
    assert(bytes(zstd) < bytes(none) && bytes(lz4) < bytes(none),
      s"codecs did not shrink: none=${bytes(none)} zstd=${bytes(zstd)} lz4=${bytes(lz4)}")
    val ref = spark.read.format("graft-columnar").load(none)
      .collect().map(_.toString).sorted
    Seq(zstd, lz4).foreach { d =>
      val got = spark.read.format("graft-columnar").load(d)
        .collect().map(_.toString).sorted
      assert(got.sameElements(ref), s"$d: compressed round-trip drifted")
      // zone maps live in the footer — pruning is codec-independent
      val fl = spark.read.format("graft-columnar").load(d)
        .filter(col("k") >= 9200L && col("k") < 9300L)
      assert(fl.count() === 100)
      val sc = gcolScan(fl)
      assert(sc.plannedBlocks === 1,
        s"$d: pruning broke under compression (${sc.plannedBlocks})")
    }
    val err = intercept[Exception] {
      sample.write.format("graft-columnar").option("codec", "gzip")
        .mode("overwrite").save(tmp())
    }
    assert(err.getMessage.contains("gzip"))
  }

  test("topN pushdown keeps only blocks that can reach the top n") {
    import spark.implicits._
    val dir = tmp()
    // clustered on k: block maxes are strictly increasing, so ORDER BY
    // k ASC LIMIT 500 provably needs only the first block
    spark.range(0, 10000).select($"id".as("k"), ($"id" * 7).as("v"))
      .repartition(1).sortWithinPartitions("k")
      .write.format("graft-columnar").option("rowsPerBlock", "1000")
      .mode("overwrite").save(dir)
    val asc = spark.read.format("graft-columnar").load(dir)
      .orderBy($"k").limit(500)
    val ascRows = asc.collect()
    assert(ascRows.map(_.getLong(0)).toSeq === (0L until 500L))
    assert(gcolScan(asc).plannedBlocks === 1,
      s"asc topN kept ${gcolScan(asc).plannedBlocks} blocks")
    val desc = spark.read.format("graft-columnar").load(dir)
      .orderBy($"k".desc).limit(2500)
    assert(desc.collect().map(_.getLong(0)).toSeq ===
      (9999L to 7500L by -1L))
    assert(gcolScan(desc).plannedBlocks === 3,
      s"desc topN kept ${gcolScan(desc).plannedBlocks} blocks")
    // interleaved data: every block overlaps the top range — nothing is
    // excludable and the result must still be exact
    val dir2 = tmp()
    spark.range(0, 10000).select(($"id" % 10).as("k"), $"id".as("v"))
      .repartition(1)
      .write.format("graft-columnar").option("rowsPerBlock", "1000")
      .mode("overwrite").save(dir2)
    val flat = spark.read.format("graft-columnar").load(dir2)
      .orderBy($"k").limit(100)
    assert(flat.collect().forall(_.getLong(0) === 0L))
    assert(gcolScan(flat).plannedBlocks === 10, "overlapping blocks pruned")
  }

  test("metadata-only aggregates: COUNT/MIN/MAX answered from footers, zero blocks read") {
    import spark.implicits._
    val dir = tmp()
    sample.repartition(4).write.format("graft-columnar")
      .option("rowsPerBlock", "1000").mode("overwrite").save(dir)
    val df = spark.read.format("graft-columnar").load(dir)
      .agg(count(lit(1)).as("n"), count($"s").as("n_s"),
        min($"k").as("min_k"), max($"k").as("max_k"),
        min($"s").as("min_s"), max($"d").as("max_d"))
    val row = df.collect().head
    assert(row.getLong(0) === 10000L)
    assert(row.getLong(1) === sample.filter($"s".isNotNull).count())
    assert(row.getLong(2) === 0L && row.getLong(3) === 9999L)
    assert(row.getString(4) === "row-00001") // id 0 % 11 == 0 -> null
    assert(row.getDouble(5) === sample.agg(max($"d")).collect().head.getDouble(0))
    val scan = gcolScan(df)
    assert(scan.aggregated, s"aggregation not pushed:\n${df.queryExecution}")
    assert(scan.plannedBlocks === 0, "metadata query read data blocks")
    assert(scan.description().contains("PushedAggregates"))
    // a FILTERED aggregate must NOT push (footers can't see row-level
    // predicates) — it takes the normal block-reading path
    val filtered = spark.read.format("graft-columnar").load(dir)
      .filter($"k" >= 5000L).agg(count(lit(1)))
    assert(filtered.collect().head.getLong(0) === 5000L)
    assert(!gcolScan(filtered).aggregated, "filtered aggregate was pushed")
  }

  test("micro-batch streaming read: journal offsets deliver appends exactly once") {
    import spark.implicits._
    val dir = tmp()
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.format("graft-columnar").mode("overwrite").save(dir)
    val stream = spark.readStream.format("graft-columnar")
      .load(dir)
      .writeStream.format("memory").queryName("gcol_stream")
      .option("checkpointLocation", tmp())
      .start()
    try {
      stream.processAllAvailable()
      assert(spark.table("gcol_stream").count() === 2)
      // appends surface incrementally — and ONLY the new file's rows
      Seq((3L, "c"), (4L, "d")).toDF("k", "v")
        .write.format("graft-columnar").mode("append").save(dir)
      stream.processAllAvailable()
      val rows = spark.table("gcol_stream").as[(Long, String)]
        .collect().sorted
      assert(rows.toSeq === Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")),
        s"stream drifted: ${rows.mkString(",")}")
      // the offsets are snapshot versions: one batch per commit
      val batches = stream.recentProgress.filter(_.numInputRows > 0)
      assert(batches.map(_.sources.head.endOffset).toSeq === Seq("1", "2"))
      assert(batches.map(_.numInputRows).toSeq === Seq(2L, 2L))
    } finally stream.stop()
  }

  test("streaming read filters correctly; engine does not push filters to micro-batch scans") {
    import spark.implicits._
    val dir = tmp()
    spark.range(0, 4000).select($"id".as("k"))
      .repartition(1).sortWithinPartitions("k")
      .write.format("graft-columnar").option("rowsPerBlock", "1000")
      .mode("overwrite").save(dir)
    val stream = spark.readStream.format("graft-columnar").load(dir)
      .filter($"k" >= 3500L)
      .writeStream.format("memory").queryName("gcol_stream_pruned")
      .option("checkpointLocation", tmp())
      .start()
    try {
      stream.processAllAvailable()
      assert(spark.table("gcol_stream_pruned").count() === 500)
      // DOCUMENTED ENGINE BEHAVIOR, pinned so an upgrade that starts
      // pushing filters into micro-batch V2 scans gets noticed: Spark 4
      // applies V2 pushdown to BATCH relations only, so the streaming
      // side surfaces every block's rows and filters above the scan
      // (the zone-map plumbing is in place — GcolMicroBatchStream
      // prunes with whatever `filters` the ScanBuilder received).
      val scanned = stream.lastProgress.sources.head.numInputRows
      assert(scanned === 4000,
        s"engine pushdown behavior changed: $scanned input rows — " +
          "streaming block pruning may now be active; update the scaladoc")
    } finally stream.stop()
  }

  // ---- round-15: key-grouped layout + zone-map special values ---------

  private def noShuffle(df: DataFrame): Boolean =
    collectAll(df.queryExecution.executedPlan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.isEmpty

  /** No shuffle exchange anywhere in the JOIN's subtree — the final
    * SinglePartition merge of an ungrouped aggregate above it is not a
    * data shuffle and is allowed.
    */
  private def joinSubtreeShuffleFree(df: DataFrame): Boolean = {
    val joins = collectAll(df.queryExecution.executedPlan) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
    joins.nonEmpty && joins.forall(j => collectAll(j) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.isEmpty)
  }

  private def withConfs[T](pairs: (String, String)*)(body: => T): T = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("clusterBy write cuts pure blocks and records the cluster column") {
    import spark.implicits._
    val dir = tmp()
    spark.range(0, 5000).select(($"id" % 16).cast(IntegerType).as("g"),
        $"id".as("k"))
      .write.format("graft-columnar").option("clusterBy", "g")
      .mode("overwrite").save(dir)
    val files = ColumnarFormat.listFiles(dir)
    assert(files.nonEmpty)
    files.foreach { f =>
      val ft = ColumnarFormat.readFooter(f)
      assert(ft.clusterBy === Some("g"), "footer lost the cluster column")
      val gi = ft.schema.fieldIndex("g")
      ft.blocks.foreach { b =>
        val c = b.cols(gi)
        assert(c.nullCount === 0 && c.min.isDefined && c.min === c.max,
          s"impure block in $f: min=${c.min} max=${c.max}")
      }
    }
    // and the data round-trips
    val back = spark.read.format("graft-columnar").load(dir)
    assert(back.count() === 5000)
    assert(back.agg(sum("k")).collect().head.getLong(0) ===
      (0L until 5000L).sum)
  }

  test("clustered scan reports KeyGroupedPartitioning: groupBy elides its exchange") {
    import spark.implicits._
    val dir = tmp()
    spark.range(0, 8000).select(($"id" % 16).cast(IntegerType).as("g"),
        $"id".as("k"))
      .write.format("graft-columnar").option("clusterBy", "g")
      .mode("overwrite").save(dir)
    withConfs("spark.sql.sources.v2.bucketing.enabled" -> "true") {
      val agg = spark.read.format("graft-columnar").load(dir)
        .groupBy("g").agg(count(lit(1)).as("n"), sum("k").as("sk"))
      val rows = agg.collect()
      assert(rows.length === 16)
      assert(rows.map(_.getLong(1)).sum === 8000L)
      assert(noShuffle(agg),
        s"groupBy on the cluster key still shuffles:\n${agg.queryExecution}")
    }
    // DOCUMENTED ENGINE BEHAVIOR: the aggregation-side elision does not
    // require the v2 bucketing conf (only JOIN co-partition alignment
    // does) — the reported KeyGroupedPartitioning satisfies the
    // aggregate's ClusteredDistribution directly
    val agg2 = spark.read.format("graft-columnar").load(dir)
      .groupBy("g").agg(count(lit(1)).as("n"))
    assert(agg2.collect().length === 16)
    assert(noShuffle(agg2),
      "engine behavior changed: aggregate elision now gated by v2 bucketing conf")
  }

  test("storage-partitioned join: zero exchanges, same result as the shuffled plan") {
    import spark.implicits._
    val dirA = tmp(); val dirB = tmp()
    val a = spark.range(0, 6000).select(($"id" % 8).cast(IntegerType).as("g"),
      $"id".as("k"), ($"id" * 3).as("va"))
    val b = spark.range(0, 6000, 2).select(($"id" % 8).cast(IntegerType).as("g"),
      $"id".as("k"), ($"id" * 7).as("vb"))
    a.write.format("graft-columnar").option("clusterBy", "g")
      .mode("overwrite").save(dirA)
    b.write.format("graft-columnar").option("clusterBy", "g")
      .mode("overwrite").save(dirB)
    val expected = a.join(b.withColumnRenamed("g", "g2"),
      Seq("k")).agg(sum($"va" + $"vb")).collect().head.getLong(0)
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val ra = spark.read.format("graft-columnar").load(dirA)
      val rb = spark.read.format("graft-columnar").load(dirB)
      val j = ra.join(rb, ra("g") === rb("g") && ra("k") === rb("k"))
        .agg(sum(ra("va") + rb("vb")).as("s"))
      assert(j.collect().head.getLong(0) === expected,
        "storage-partitioned join changed the result")
      assert(joinSubtreeShuffleFree(j),
        s"SPJ still shuffles:\n${j.queryExecution.executedPlan}")
    }
  }

  test("bucket-transform SPJ: the join runs on the KEY, resolved through the function catalog, zero exchanges") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.gcol_cat_spec",
      "graft.sources.GcolCatalog")
    val dirA = tmp(); val dirB = tmp()
    // DIFFERENTLY-SIZED tables: their bucket-id VALUE sets agree (0..7)
    // even though their key sets differ — the co-partition case
    // identity clustering cannot express
    val a = spark.range(0, 4000).select($"id".as("k"), ($"id" * 3).as("va"))
      .withColumn("bkt", pmod($"k", lit(8)).cast(IntegerType))
    val b = spark.range(0, 12000).select(($"id" % 4000).as("k"),
        ($"id" * 7).as("vb"))
      .withColumn("bkt", pmod($"k", lit(8)).cast(IntegerType))
    a.write.format("graft-columnar").option("clusterBy", "bkt")
      .option("bucketSpec", "k:8").mode("overwrite").save(dirA)
    b.write.format("graft-columnar").option("clusterBy", "bkt")
      .option("bucketSpec", "k:8").mode("overwrite").save(dirB)
    val expected = a.join(b.select($"k", $"vb"), Seq("k"))
      .agg(sum($"va" + $"vb")).collect().head.getLong(0)
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // join on the KEY alone — the bucket column is never projected;
      // the scans report KeyGroupedPartitioning(bucket(8, k)) and the
      // catalog's V2 function lets Spark align the bucket ids
      val ra = spark.table(s"gcol_cat_spec.`$dirA`").select($"k", $"va")
      val rb = spark.table(s"gcol_cat_spec.`$dirB`").select($"k", $"vb")
      val j = ra.join(rb, "k").agg(sum($"va" + $"vb").as("s"))
      assert(j.collect().head.getLong(0) === expected,
        "bucket SPJ changed the result")
      assert(joinSubtreeShuffleFree(j),
        s"bucket SPJ still shuffles:\n${j.queryExecution.executedPlan}")
    }
    // without the catalog (plain format read) the transform cannot
    // resolve: plan falls back to shuffles, result identical
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val ra = spark.read.format("graft-columnar").load(dirA)
        .select($"k", $"va")
      val rb = spark.read.format("graft-columnar").load(dirB)
        .select($"k", $"vb")
      val j = ra.join(rb, "k").agg(sum($"va" + $"vb").as("s"))
      assert(j.collect().head.getLong(0) === expected)
    }
  }

  test("runtime/static pruning under key grouping keeps the partition skeleton") {
    import spark.implicits._
    val dir = tmp()
    spark.range(0, 4000).select(($"id" % 8).cast(IntegerType).as("g"),
        $"id".as("k"))
      .write.format("graft-columnar").option("clusterBy", "g")
      .mode("overwrite").save(dir)
    withConfs("spark.sql.sources.v2.bucketing.enabled" -> "true") {
      // a static filter that kills 6 of 8 groups: results stay exact and
      // the aggregate still runs shuffle-free on the surviving skeleton
      val agg = spark.read.format("graft-columnar").load(dir)
        .filter($"g" < 2).groupBy("g").agg(count(lit(1)).as("n"))
      val rows = agg.collect().sortBy(_.getInt(0))
      assert(rows.map(_.getInt(0)).toSeq === Seq(0, 1))
      assert(rows.forall(_.getLong(1) === 500L))
      assert(noShuffle(agg))
      val scan = gcolScan(agg)
      assert(scan.plannedBlocks < scan.totalBlocks,
        "zone maps stopped pruning under key grouping")
    }
  }

  test("NaN double segments carry no zone map and are never pruned (no row loss)") {
    import spark.implicits._
    val dir = tmp()
    // block 0: plain values; block 1: values + NaN (sorted write, 1000/block)
    spark.range(0, 2000).select($"id".as("k"),
        when($"id" === 1500, lit(Double.NaN))
          .otherwise($"id".cast(DoubleType)).as("d"))
      .orderBy("k").repartition(1).sortWithinPartitions("k")
      .write.format("graft-columnar").option("rowsPerBlock", "1000")
      .mode("overwrite").save(dir)
    val files = ColumnarFormat.listFiles(dir)
    val ft = ColumnarFormat.readFooter(files.head)
    val di = ft.schema.fieldIndex("d")
    assert(ft.blocks.exists(_.cols(di).min.isEmpty),
      "NaN-bearing segment still wrote a zone map")
    assert(ft.blocks.exists(_.cols(di).min.isDefined),
      "clean segment lost its zone map")
    // equality and range filters over the NaN block's range: exact rows
    val eq = spark.read.format("graft-columnar").load(dir)
      .filter($"d" === 1400.0)
    assert(eq.count() === 1, "row lost next to a NaN (equality)")
    val lt = spark.read.format("graft-columnar").load(dir)
      .filter($"d" >= 1200.0 && $"d" < 1300.0)
    assert(lt.count() === 100, "rows lost next to a NaN (range)")
    // MIN/MAX over the NaN table must NOT be footer-answered
    val agg = spark.read.format("graft-columnar").load(dir)
      .agg(min("d").as("mn"), max("d").as("mx"))
    val r = agg.collect().head
    val scan = gcolScan(agg)
    assert(!scan.aggregated,
      "MIN/MAX was footer-answered despite a NaN segment")
    assert(r.getDouble(0) === 0.0)
    assert(r.getDouble(1).isNaN, "engine max semantics: NaN is greatest")
  }

  test("a block holding only -0.0 is kept for = 0.0 (SQL zero equality)") {
    import spark.implicits._
    val dir = tmp()
    spark.range(0, 2000).select($"id".as("k"),
        when($"id" < 1000, lit(-0.0)).otherwise(lit(5.0)).as("d"))
      .orderBy("k").repartition(1).sortWithinPartitions("k")
      .write.format("graft-columnar").option("rowsPerBlock", "1000")
      .mode("overwrite").save(dir)
    val eq = spark.read.format("graft-columnar").load(dir)
      .filter($"d" === 0.0)
    assert(eq.count() === 1000,
      "-0.0 block pruned for = 0.0: zone-map compare must use SQL zero equality")
  }

  test("mayMatch keeps blocks when the filter column is absent from a file's schema") {
    import org.apache.spark.sql.sources.{EqualTo, IsNull}
    val schema = StructType(Seq(StructField("k", LongType)))
    val blk = ColumnarFormat.BlockView(10, Array(0L), Array(80L),
      Array(ColumnarFormat.ColMeta(0L, 80L, 0, Some(1L), Some(9L))))
    assert(ColumnarFormat.mayMatch(schema, blk, EqualTo("missing", 5L)),
      "filter on a column absent from this file must keep the block")
    assert(ColumnarFormat.mayMatch(schema, blk, IsNull("missing")))
    assert(!ColumnarFormat.mayMatch(schema, blk, EqualTo("k", 99L)),
      "zone maps must still prune on present columns")
  }

  test("data file names carry a per-job uid so appends never collide") {
    import spark.implicits._
    val dir = tmp()
    Seq((1L, "a")).toDF("k", "v").write.format("graft-columnar")
      .mode("overwrite").save(dir)
    Seq((2L, "b")).toDF("k", "v").write.format("graft-columnar")
      .mode("append").save(dir)
    val names = ColumnarFormat.listFiles(dir).map(_.getFileName.toString)
    assert(names.size === 2)
    val pat = "part-\\d+-\\d+-[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}\\.gcol".r
    names.foreach(n => assert(pat.matches(n), s"unexpected file name $n"))
    assert(spark.read.format("graft-columnar").load(dir).count() === 2)
  }

  test("files option scopes the scan to the named subset") {
    import spark.implicits._
    val dir = tmp()
    spark.range(0, 4000).select($"id".as("k"))
      .repartitionByRange(4, $"k").sortWithinPartitions("k")
      .write.format("graft-columnar").mode("overwrite").save(dir)
    val files = ColumnarFormat.listFiles(dir)
    val names = files.map(_.getFileName.toString)
    assert(names.size === 4)
    val two = spark.read.format("graft-columnar")
      .option("files", names.take(2).mkString(",")).load(dir)
    // repartitionByRange SAMPLES its bounds, so per-file counts drift
    // run to run — the contract is "exactly the named files' rows",
    // which the footers state authoritatively
    val expected = files.take(2)
      .map(f => ColumnarFormat.readFooter(f).blocks.map(_.rows.toLong).sum).sum
    assert(two.count() === expected)
    assert(expected > 0 && expected < 4000)
    intercept[Exception] {
      spark.read.format("graft-columnar")
        .option("files", "no-such-file.gcol").load(dir).count()
    }
  }

  test("copy-on-write merge: affected files rewritten, others byte-identical, journal appended once") {
    // the snapshot log is the commit journal: the merge commits ONE version
    import spark.implicits._
    val dir = tmp()
    // 4 key-sorted files of 1000 rows each; changes touch ONLY file 0's
    // range (keys < 1000) plus a brand-new insert key
    spark.range(0, 4000).select($"id".as("k"),
        ($"id" * 10).cast(DoubleType).as("v"))
      .repartitionByRange(4, $"id").sortWithinPartitions("id")
      .write.format("graft-columnar").mode("overwrite").save(dir)
    val before = headHashes(dir)
    assert(GcolSnapshots.headVersion(dir) === Some(1L))
    val changes = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(5L, "U", 999.0),
      org.apache.spark.sql.Row(7L, "D", null),
      org.apache.spark.sql.Row(99999L, "U", 1.5)),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("k", LongType),
        org.apache.spark.sql.types.StructField("op", StringType),
        org.apache.spark.sql.types.StructField("new_v", DoubleType))))
    val published = GcolRowOps.merge(spark, dir, changes, "k",
      Map("v" -> "new_v"))
    assert(published.nonEmpty)
    val after = headHashes(dir)
    // the three files whose ranges the changes never touch are the SAME
    // bytes; the affected file left the head, replaced by the published
    // names
    val untouched = before.keySet.intersect(after.keySet)
    assert(untouched.size === 3, s"expected 3 untouched files: $before -> $after")
    untouched.foreach(n => assert(before(n) === after(n), s"$n was rewritten"))
    published.foreach(n => assert(after.contains(n)))
    // one new version adds exactly the published names, once
    assert(GcolSnapshots.headVersion(dir) === Some(2L))
    assert(GcolSnapshots.addedFiles(dir, 1L, 2L).sorted === published.sorted)
    assert(GcolSnapshots.removedFiles(dir, 1L, 2L).size === 1)
    // and the table content is the merged state
    val back = spark.read.format("graft-columnar").load(dir)
    assert(back.count() === 4000) // -1 delete +1 insert
    assert(back.filter($"k" === 5L).collect().head.getDouble(1) === 999.0)
    assert(back.filter($"k" === 7L).count() === 0)
    assert(back.filter($"k" === 99999L).collect().head.getDouble(1) === 1.5)
    assert(back.filter($"k" === 3999L).collect().head.getDouble(1) === 39990.0)
  }

  test("deleteWhere: predicate-built changes drop exactly the matching rows") {
    import spark.implicits._
    val dir = tmp()
    spark.range(0, 3000).select($"id".as("k"),
        ($"id" % 5).cast(IntegerType).as("g"))
      .repartitionByRange(3, $"id").sortWithinPartitions("id")
      .write.format("graft-columnar").mode("overwrite").save(dir)
    GcolRowOps.delete(spark, dir, "k", "g = 2")
    val back = spark.read.format("graft-columnar").load(dir)
    assert(back.count() === 2400)
    assert(back.filter($"g" === 2).count() === 0)
  }

  test("merge preserves clusterBy layout: the rewritten table still key-groups") {
    import spark.implicits._
    val dir = tmp()
    spark.range(0, 4000).select(($"id" % 8).cast(IntegerType).as("g"),
        $"id".as("k"))
      .write.format("graft-columnar").option("clusterBy", "g")
      .mode("overwrite").save(dir)
    val changes = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(17L, "D")),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("k", LongType),
        org.apache.spark.sql.types.StructField("op", StringType))))
    GcolRowOps.merge(spark, dir, changes, "k", Map.empty)
    // every file still declares the cluster column with pure blocks
    ColumnarFormat.scopedFiles(dir, None).foreach { f =>
      val ft = ColumnarFormat.readFooter(f)
      assert(ft.clusterBy === Some("g"), s"$f lost clusterBy through merge")
    }
    withConfs("spark.sql.sources.v2.bucketing.enabled" -> "true") {
      val agg = spark.read.format("graft-columnar").load(dir)
        .groupBy("g").agg(count(lit(1)).as("n"))
      assert(agg.collect().map(_.getLong(1)).sum === 3999L)
      assert(noShuffle(agg), "merged table stopped key-grouping")
    }
  }

  // ---- round-15: dictionary + RLE segment encodings --------------------

  test("low-cardinality strings dictionary-encode, shrink, and round-trip (nulls included)") {
    import spark.implicits._
    val dirAuto = tmp(); val dirRef = tmp()
    val flags = spark.range(0, 20000).select($"id".as("k"),
      when($"id" % 97 === 0, lit(null))
        .otherwise(element_at(array(lit("A"), lit("N"), lit("R")),
          ($"id" % 3 + 1).cast(IntegerType))).as("flag"))
    flags.repartition(1).write.format("graft-columnar")
      .mode("overwrite").save(dirAuto)
    val ft = ColumnarFormat.readFooter(ColumnarFormat.listFiles(dirAuto).head)
    val fi = ft.schema.fieldIndex("flag")
    assert(ft.blocks.forall(_.cols(fi).enc === "dict"),
      "3-value string column did not dictionary-encode")
    // zone maps survive the encoding (min/max over values, not codes)
    assert(ft.blocks.forall(b => b.cols(fi).min === Some("A") &&
      b.cols(fi).max === Some("R")))
    // and it actually saves bytes vs a plain write of the same column
    // (compare whole files: k is identical on both sides)
    flags.repartition(1).write.format("graft-columnar")
      .option("rowsPerBlock", "1") // degenerate blocks defeat the dict
      .mode("overwrite").save(dirRef)
    val back = spark.read.format("graft-columnar").load(dirAuto)
    assert(back.count() === 20000)
    assert(back.filter($"flag".isNull).count() ===
      flags.filter($"flag".isNull).count())
    assert(back.filter($"flag" === "N").count() ===
      flags.filter($"flag" === "N").count())
    // aggregation through the lazy dictionary path
    val grouped = back.groupBy("flag").agg(count(lit(1)).as("n"))
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    val expect = flags.groupBy("flag").agg(count(lit(1)).as("n"))
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(grouped === expect)
  }

  test("dictionary pushdown: string equality still prunes blocks on encoded segments") {
    import spark.implicits._
    val dir = tmp()
    // sorted grades -> each block holds one or two adjacent values, all
    // dict-encoded; equality on one grade must skip most blocks
    spark.range(0, 10000).select($"id".as("k"),
        concat(lit("grade-"), expr("id div 1000").cast(StringType)).as("g"))
      .orderBy("k").repartition(1).sortWithinPartitions("k")
      .write.format("graft-columnar").option("rowsPerBlock", "1000")
      .mode("overwrite").save(dir)
    val ft = ColumnarFormat.readFooter(ColumnarFormat.listFiles(dir).head)
    val gi = ft.schema.fieldIndex("g")
    assert(ft.blocks.forall(_.cols(gi).enc === "dict"))
    val one = spark.read.format("graft-columnar").load(dir)
      .filter($"g" === "grade-3")
    assert(one.count() === 1000)
    val scan = gcolScan(one)
    assert(scan.plannedBlocks === 1,
      s"dict segment lost pruning: ${scan.plannedBlocks}/${scan.totalBlocks}")
  }

  test("run-length encoding on clustered ints/longs: shrink + exact round trip") {
    import spark.implicits._
    val dir = tmp()
    val df = spark.range(0, 50000).select(
      expr("id div 5000").cast(IntegerType).as("bucket"), // 10 runs
      expr("id div 2500").as("epoch"),                    // 20 runs
      $"id".as("k"))                                   // unique: stays plain
    df.repartition(1).sortWithinPartitions("k")
      .write.format("graft-columnar").mode("overwrite").save(dir)
    val ft = ColumnarFormat.readFooter(ColumnarFormat.listFiles(dir).head)
    def encOf(c: String) =
      ft.blocks.map(_.cols(ft.schema.fieldIndex(c)).enc).distinct
    assert(encOf("bucket") === Seq("rle"), s"bucket: ${encOf("bucket")}")
    assert(encOf("epoch") === Seq("rle"))
    assert(encOf("k") === Seq("plain"), "a unique column must not RLE")
    // byte shrink: the rle segment is far under width*rows
    val bi = ft.schema.fieldIndex("bucket")
    ft.blocks.foreach { b =>
      assert(b.cols(bi).len < b.rows * 1L, // < 1 byte/row incl. bitmap
        s"rle did not shrink: ${b.cols(bi).len} bytes for ${b.rows} rows")
    }
    val back = spark.read.format("graft-columnar").load(dir)
    assert(back.agg(sum($"bucket"), sum($"epoch"), sum($"k")).collect().head
      .toSeq === df.agg(sum($"bucket"), sum($"epoch"), sum($"k"))
      .collect().head.toSeq)
    // range pruning on the rle column still works
    val f = spark.read.format("graft-columnar").load(dir)
      .filter($"bucket" === 7)
    assert(f.count() === 5000)
    assert(gcolScan(f).plannedBlocks < gcolScan(f).totalBlocks)
  }

  test("encodings compose with per-segment compression (zstd)") {
    import spark.implicits._
    val dir = tmp()
    spark.range(0, 20000).select(expr("id div 4000").as("run"),
        when($"id" % 2 === 0, lit("even")).otherwise(lit("odd")).as("par"),
        $"id".as("k"))
      .repartition(1).sortWithinPartitions("k")
      .write.format("graft-columnar").option("codec", "zstd")
      .mode("overwrite").save(dir)
    val ft = ColumnarFormat.readFooter(ColumnarFormat.listFiles(dir).head)
    assert(ft.codec === "zstd")
    assert(ft.blocks.forall(_.cols(ft.schema.fieldIndex("run")).enc === "rle"))
    assert(ft.blocks.forall(_.cols(ft.schema.fieldIndex("par")).enc === "dict"))
    val back = spark.read.format("graft-columnar").load(dir)
    assert(back.count() === 20000)
    assert(back.filter($"par" === "even").count() === 10000)
    assert(back.agg(sum("run")).collect().head.getLong(0) ===
      (0L until 20000L).map(_ / 4000).sum)
  }

  test("streaming dedup over the journal: live == batch across two arrivals, state evicts by watermark") {
    import spark.implicits._
    val dir = tmp()
    // arrival 1: 3000 events over ~50 minutes (1s apart)
    val wave1 = spark.range(0, 3000).select($"id".as("k"),
      timestamp_seconds(lit(1700000000L) + $"id").as("ts"))
    wave1.write.format("graft-columnar").mode("overwrite").save(dir)
    val q = spark.readStream.format("graft-columnar").load(dir)
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("k")
      .writeStream.outputMode("append")
      .queryName("gcol_dedup_live")
      .option("checkpointLocation", tmp())
      .format("memory")
      .start()
    try {
      q.processAllAvailable()
      // arrival 2: a replay of the LAST 200 keys (inside the watermark:
      // max ts - their ts < 10 min) plus 100 genuinely new keys
      spark.range(2800, 3000).select($"id".as("k"),
          timestamp_seconds(lit(1700000000L) + $"id").as("ts"))
        .unionAll(spark.range(5000, 5100).select($"id".as("k"),
          timestamp_seconds(lit(1700003200L) + $"id").as("ts")))
        .write.format("graft-columnar").mode("append").save(dir)
      q.processAllAvailable()
      val live = spark.table("gcol_dedup_live")
      // live == batch: replayed keys surfaced ONCE, new keys surfaced
      assert(live.count() === 3100,
        s"expected 3000 + 100 survivors, got ${live.count()}")
      assert(live.select("k").distinct().count() === 3100)
      // state eviction: the watermark passed most of wave 1, so the
      // dedup operator holds far fewer keys than it has ever seen
      val state = q.lastProgress.stateOperators
      assert(state.nonEmpty)
      assert(state.head.numRowsTotal < 3100,
        s"watermark never evicted dedup state: ${state.head.numRowsTotal}")
      // one data batch per arrival, each ending at that arrival's version
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.map(_.sources.head.endOffset).toSeq === Seq("1", "2"))
    } finally q.stop()
  }

  test("merge-on-read deletes: sidecar invisible to the plain scan, compaction converges") {
    import spark.implicits._
    val dir = tmp()
    spark.range(0, 5000).select($"id".as("k"),
        ($"id" * 2).cast(DoubleType).as("v"))
      .repartitionByRange(4, $"id").sortWithinPartitions("id")
      .write.format("graft-columnar").mode("overwrite").save(dir)
    val filesBefore = ColumnarFormat.listFiles(dir)
      .map(f => f.getFileName.toString ->
        java.util.Arrays.hashCode(java.nio.file.Files.readAllBytes(f))).toMap
    GcolRowOps.deleteWhereMoR(spark, dir, "k", "k % 10 = 3")
    // no data file touched: byte-identical, and the PLAIN scan still
    // sees every row (the sidecar is not part of the table listing)
    val filesAfter = ColumnarFormat.listFiles(dir)
      .map(f => f.getFileName.toString ->
        java.util.Arrays.hashCode(java.nio.file.Files.readAllBytes(f))).toMap
    assert(filesAfter === filesBefore, "MoR delete rewrote a data file")
    assert(spark.read.format("graft-columnar").load(dir).count() === 5000)
    // the MoR read subtracts exactly the victims
    val mor = GcolRowOps.readMoR(spark, dir, "k")
    assert(mor.count() === 4500)
    assert(mor.filter($"k" % 10 === 3).count() === 0)
    // a second delete wave ACCUMULATES in the sidecar
    GcolRowOps.deleteWhereMoR(spark, dir, "k", "k % 10 = 7")
    val mor2 = GcolRowOps.readMoR(spark, dir, "k")
    assert(mor2.count() === 4000)
    // compaction folds the sidecar in: plain == MoR, sidecar cleared
    val expected = mor2.orderBy("k").collect()
    GcolRowOps.compact(spark, dir, "k")
    assert(ColumnarFormat.listFiles(
      dir + "/" + GcolRowOps.DeletesSubdir).isEmpty, "sidecar not cleared")
    val plain = spark.read.format("graft-columnar").load(dir)
    assert(plain.count() === 4000)
    assert(plain.orderBy("k").collect().sameElements(expected),
      "compacted table diverged from the MoR read")
    // and a MoR read over the compacted table is the plain scan
    assert(GcolRowOps.readMoR(spark, dir, "k").count() === 4000)
  }

  test("a hot cluster key splits into size-bounded keyed partitions; results unchanged") {
    import spark.implicits._
    val dir = tmp()
    // 90% of rows land on key 0 — the skew shape; key-pure blocks still
    spark.range(0, 20000).select(
        when($"id" % 10 === 0, (expr("id div 10") % 4 + 1).cast(IntegerType))
          .otherwise(lit(0)).cast(IntegerType).as("g"),
        $"id".as("k"))
      .write.format("graft-columnar").option("clusterBy", "g")
      .option("rowsPerBlock", "512").mode("overwrite").save(dir)
    withConfs("spark.sql.files.maxPartitionBytes" -> "16384",
      "spark.sql.files.openCostInBytes" -> "1024") {
      val df = spark.read.format("graft-columnar").load(dir)
      df.collect()
      val parts = gcolScan(df).toBatch.planInputPartitions()
      assert(parts.forall(_.isInstanceOf[GcolKeyedPartition]))
      val byKey = parts.map(_.asInstanceOf[GcolKeyedPartition])
        .groupBy(_.keyValue)
      assert(byKey.size === 5, s"expected 5 keys: ${byKey.keys}")
      assert(byKey(0).length > 1,
        "the hot key never split into size-bounded packs")
      // and the engine (v2 bucketing default-on) still groups them:
      // per-key aggregate stays exchange-free and exact
      val agg = spark.read.format("graft-columnar").load(dir)
        .groupBy("g").agg(count(lit(1)).as("n"), sum("k").as("sk"))
      val rows = agg.collect()
      assert(rows.map(_.getLong(1)).sum === 20000L)
      assert(rows.find(_.getInt(0) == 0).get.getLong(1) === 18000L)
      assert(noShuffle(agg), "split keyed partitions broke the elision")
    }
  }

  test("metadata columns: hidden from *, selectable, and physically truthful") {
    import spark.implicits._
    val dir = tmp()
    spark.range(0, 5000).select($"id".as("k"))
      .repartitionByRange(2, $"k").sortWithinPartitions("k")
      .write.format("graft-columnar").option("rowsPerBlock", "1000")
      .mode("overwrite").save(dir)
    val plain = spark.read.format("graft-columnar").load(dir)
    // hidden: SELECT * must not surface the reserved names
    assert(plain.columns.toSeq === Seq("k"))
    val meta = plain.select($"k", col("_gcol_file"), col("_gcol_block"),
      col("_gcol_pos"))
    assert(meta.count() === 5000)
    // file names are real directory entries
    val names = ColumnarFormat.listFiles(dir).map(_.getFileName.toString).toSet
    val seen = meta.select("_gcol_file").distinct()
      .collect().map(_.getString(0)).toSet
    assert(seen === names, s"metadata files $seen != $names")
    // positions are block-local (0 until rowsPerBlock), blocks 0-based
    val r = meta.agg(min("_gcol_pos"), max("_gcol_pos"),
      min("_gcol_block"), max("_gcol_block")).collect().head
    assert(r.getInt(0) === 0 && r.getInt(1) === 999)
    assert(r.getInt(2) === 0 && r.getInt(3) >= 1)
    // (file, block, pos) is a unique row address — the delete-vector key
    assert(meta.select("_gcol_file", "_gcol_block", "_gcol_pos")
      .distinct().count() === 5000)
    // filters on data columns still prune while metadata is projected
    val f = plain.select($"k", col("_gcol_block")).filter($"k" < 500)
    assert(f.count() === 500)
    assert(gcolScan(f).plannedBlocks === 1)
  }

  test("position deletes: one-of-N duplicate precision, rewrite guard, compaction converges") {
    import spark.implicits._
    val dir = tmp()
    // duplicate-heavy table with NO unique key: k=7 appears twice with
    // IDENTICAL payloads
    spark.range(0, 1000).select(($"id" % 500).as("k"),
        lit("same").as("v"))
      .repartition(1).sortWithinPartitions("k")
      .write.format("graft-columnar").mode("overwrite").save(dir)
    // address exactly ONE of the two identical k=7 rows — the delete no
    // key anti-join can express
    val one = spark.read.format("graft-columnar").load(dir)
      .filter($"k" === 7)
      .select(col("_gcol_file"), col("_gcol_block"), col("_gcol_pos"))
      .limit(1)
    one.write.format("graft-columnar").mode("append")
      .save(dir + "/" + GcolRowOps.PosDeletesSubdir)
    val mor = GcolRowOps.readMoRPos(spark, dir)
    assert(mor.count() === 999)
    assert(mor.filter($"k" === 7).count() === 1,
      "position delete must remove exactly one of two identical rows")
    // rewrites refuse while addresses are pending
    val err = intercept[Exception] {
      GcolRowOps.delete(spark, dir, "k", "k = 3")
    }
    assert(err.getMessage.contains("position deletes"), err.getMessage)
    // predicate-driven position delete accumulates
    GcolRowOps.deleteWherePos(spark, dir, "k >= 490")
    assert(GcolRowOps.readMoRPos(spark, dir).count() === 979) // -20 -1
    // compaction folds everything in and clears the sidecar
    val expected = GcolRowOps.readMoRPos(spark, dir).orderBy("k").collect()
    GcolRowOps.compactPos(spark, dir)
    assert(ColumnarFormat.listFiles(
      dir + "/" + GcolRowOps.PosDeletesSubdir).isEmpty)
    val plain = spark.read.format("graft-columnar").load(dir)
    assert(plain.count() === 979)
    assert(plain.orderBy("k").collect().sameElements(expected))
    // and the rewrite guard lifts
    GcolRowOps.delete(spark, dir, "k", "k = 3")
    assert(spark.read.format("graft-columnar").load(dir)
      .filter($"k" === 3).count() === 0)
  }

  test("bloom pruning: point lookups on an unsorted column open ~1 block, zone maps alone open all") {
    import spark.implicits._
    val dirB = tmp(); val dirZ = tmp()
    // k is unique but the table is sorted by g — every block's k-range
    // spans the domain, so zone maps are blind for k lookups
    val df = spark.range(0, 20000).select(
      (($"id" * 7919) % 20000).as("k"), $"id".as("g"))
    df.repartition(1).sortWithinPartitions("g")
      .write.format("graft-columnar").option("rowsPerBlock", "1000")
      .option("bloomFor", "k").mode("overwrite").save(dirB)
    df.repartition(1).sortWithinPartitions("g")
      .write.format("graft-columnar").option("rowsPerBlock", "1000")
      .mode("overwrite").save(dirZ)
    // the same unique-key equality on both layouts
    val withBloom = spark.read.format("graft-columnar").load(dirB)
      .filter($"k" === 4033L)
    val zoneOnly = spark.read.format("graft-columnar").load(dirZ)
      .filter($"k" === 4033L)
    assert(withBloom.count() === 1)
    assert(zoneOnly.count() === 1)
    val sb = gcolScan(withBloom); val sz = gcolScan(zoneOnly)
    assert(sz.plannedBlocks === sz.totalBlocks,
      "zone maps should be blind on the unsorted unique column")
    assert(sb.plannedBlocks <= 3,
      s"bloom kept ${sb.plannedBlocks}/${sb.totalBlocks} blocks")
    // IN literals of a DIFFERENT integral width still match (canonical
    // int64 form), and a missing value prunes everything
    val in = spark.read.format("graft-columnar").load(dirB)
      .filter($"k".isin(4033, 9001))
    assert(in.count() === 2)
    val none = spark.read.format("graft-columnar").load(dirB)
      .filter($"k" === 777777L)
    assert(none.count() === 0)
    assert(gcolScan(none).plannedBlocks === 0,
      "an absent value should prune every block via the bloom")
    // strings too
    val dirS = tmp()
    spark.range(0, 5000).select(
        concat(lit("id-"), (($"id" * 7919) % 5000).cast(StringType)).as("s"),
        $"id".as("g"))
      .repartition(1).sortWithinPartitions("g")
      .write.format("graft-columnar").option("rowsPerBlock", "1000")
      .option("bloomFor", "s").mode("overwrite").save(dirS)
    val sEq = spark.read.format("graft-columnar").load(dirS)
      .filter($"s" === "id-1234")
    assert(sEq.count() === 1)
    assert(gcolScan(sEq).plannedBlocks <= 2)
  }

  test("multi-file writes parallelize and statistics see pruned sizes") {
    val dir = tmp()
    sample.repartition(4).write.format("graft-columnar")
      .option("rowsPerBlock", "1000").mode("overwrite").save(dir)
    assert(ColumnarFormat.listFiles(dir).size === 4, "one file per task")
    val all = spark.read.format("graft-columnar").load(dir)
    assert(all.count() === 10000)
    val pruned = spark.read.format("graft-columnar").load(dir).select("k")
    val scanAll = gcolScan(all.filter(col("k") >= 0L))
    val scanK = gcolScan(pruned.filter(col("k") >= 0L))
    pruned.filter(col("k") >= 0L).count()
    all.filter(col("k") >= 0L).count()
    val sAll = scanAll.estimateStatistics()
    val sK = scanK.estimateStatistics()
    assert(sK.sizeInBytes().getAsLong < sAll.sizeInBytes().getAsLong,
      "pruned scan should report fewer bytes")
    assert(sK.numRows().getAsLong === 10000L)
  }

  test("schema evolution: add/drop/rename never rewrite data, pruning survives the rename") {
    import spark.implicits._
    val dir = tmp()
    // v0: 4 key-sorted files, blocks tight on k
    spark.range(0, 4000).select($"id".as("k"),
        ($"id" * 10).cast(DoubleType).as("v"),
        concat(lit("n"), $"id".cast(StringType)).as("nm"))
      .repartitionByRange(4, $"id").sortWithinPartitions("id")
      .write.format("graft-columnar").option("rowsPerBlock", "500")
      .mode("overwrite").save(dir)
    val before = ColumnarFormat.listFiles(dir)
      .map(f => f.getFileName.toString ->
        java.util.Arrays.hashCode(java.nio.file.Files.readAllBytes(f))).toMap
    GcolSchemaOps.renameColumn(dir, "k", "key_id")
    GcolSchemaOps.addColumn(dir, "extra", LongType)
    GcolSchemaOps.dropColumn(dir, "nm")
    // data files BYTE-IDENTICAL through all three DDLs
    val after = ColumnarFormat.listFiles(dir)
      .map(f => f.getFileName.toString ->
        java.util.Arrays.hashCode(java.nio.file.Files.readAllBytes(f))).toMap
    assert(after === before, "DDL must be metadata-only")
    // v1 append in the evolved schema
    Seq((100000L, 1.5, 7L), (100001L, 2.5, 8L))
      .toDF("key_id", "v", "extra")
      .write.format("graft-columnar").mode("append").save(dir)
    val t = spark.read.format("graft-columnar").load(dir)
    assert(t.schema.fieldNames.toSeq === Seq("key_id", "v", "extra"))
    assert(t.count() === 4002)
    // renamed column serves old values; added column is null in v0 rows
    assert(t.filter($"key_id" === 5L).collect().head.getDouble(1) === 50.0)
    assert(t.filter($"key_id" === 5L).collect().head.isNullAt(2))
    assert(t.filter($"key_id" === 100000L).collect().head.getLong(2) === 7L)
    assert(t.filter($"extra".isNotNull).count() === 2)
    // zone-map pruning SURVIVES the rename: old files prune on key_id
    // through their local name `k`
    val q = t.filter($"key_id" === 5L)
    q.count()
    val scan = gcolScan(q)
    assert(scan.plannedBlocks < scan.totalBlocks,
      s"rename killed pruning: ${scan.plannedBlocks}/${scan.totalBlocks}")
    // metadata-only aggregates stay correct across evolution: MIN/MAX
    // of the renamed column span v0+v1, COUNT of the added column
    // counts only v1 rows
    val agg = t.agg(min($"key_id"), max($"key_id"), count($"extra"))
      .collect().head
    assert(agg.getLong(0) === 0L && agg.getLong(1) === 100001L &&
      agg.getLong(2) === 2L)
    // refused, loudly: type recycling and name resurrection
    intercept[IllegalArgumentException] {
      GcolSchemaOps.addColumn(dir, "nm", LongType) // lives in v0 footers
    }
    intercept[IllegalArgumentException] {
      GcolSchemaOps.renameColumn(dir, "v", "k") // former name of key_id
    }
    // CoW merge still works on the evolved table (key = renamed column)
    val changes = Seq((5L, "U", 999.0)).toDF("key_id", "op", "new_v")
    GcolRowOps.merge(spark, dir, changes, "key_id", Map("v" -> "new_v"))
    val back = spark.read.format("graft-columnar").load(dir)
    assert(back.filter($"key_id" === 5L).collect().head.getDouble(1) === 999.0)
    assert(back.count() === 4002)
  }

  test("merge on a DATE-keyed table: footer ranges convert to external values") {
    import spark.implicits._
    val dir = tmp()
    spark.range(0, 1000).select(
        date_add(lit("2020-01-01").cast(DateType), $"id".cast(IntegerType))
          .as("day"),
        ($"id" * 2).as("v"))
      .repartitionByRange(2, $"day").sortWithinPartitions("day")
      .write.format("graft-columnar").mode("overwrite").save(dir)
    val changes = Seq(("2020-01-03", "U", 77L), ("2020-01-05", "D", 0L))
      .toDF("day_s", "op", "new_v")
      .select($"day_s".cast(DateType).as("day"), $"op", $"new_v")
    GcolRowOps.merge(spark, dir, changes, "day", Map("v" -> "new_v"))
    val back = spark.read.format("graft-columnar").load(dir)
    assert(back.count() === 999)
    assert(back.filter($"day" === lit("2020-01-03").cast(DateType))
      .collect().head.getLong(1) === 77L)
    assert(back.filter($"day" === lit("2020-01-05").cast(DateType))
      .count() === 0)
    // and TIMESTAMP keys too (micros -> java.sql.Timestamp)
    val dir2 = tmp()
    spark.range(0, 100).select(
        timestamp_seconds($"id" * 3600).as("at"), $"id".as("v"))
      .write.format("graft-columnar").mode("overwrite").save(dir2)
    val ch2 = Seq((7L * 3600L, "D", 0L)).toDF("sec", "op", "new_v")
      .select(timestamp_seconds($"sec").as("at"), $"op", $"new_v")
    GcolRowOps.merge(spark, dir2, ch2, "at", Map("v" -> "new_v"))
    assert(spark.read.format("graft-columnar").load(dir2).count() === 99)
  }

  test("streaming replay survives a CoW rewrite: replaced journal entries are skipped, not fatal") {
    import spark.implicits._
    val dir = tmp()
    spark.range(0, 2000).select($"id".as("k"), ($"id" * 10).as("v"))
      .repartitionByRange(2, $"id").sortWithinPartitions("id")
      .write.format("graft-columnar").mode("overwrite").save(dir)
    // rewrite file 0's range: version 2 replaces a file version 1 added,
    // which stays on disk
    val changes = Seq((5L, "D", 0L)).toDF("k", "op", "new_v")
    GcolRowOps.merge(spark, dir, changes, "k", Map("v" -> "new_v"))
    val gone = GcolSnapshots.removedFiles(dir, 1L, 2L)
    assert(gone.nonEmpty, "the rewrite should have replaced a version-1 file")
    gone.foreach(rel => assert(
      java.nio.file.Files.exists(java.nio.file.Paths.get(dir).resolve(rel))))
    // a FRESH stream from offset 0 replays without crashing and
    // delivers exactly the post-rewrite state (ignoreChanges contract)
    val qn = "gcol_replay_" + System.nanoTime()
    val stream = spark.readStream.format("graft-columnar").load(dir)
      .writeStream.format("memory").queryName(qn)
      .option("checkpointLocation", tmp())
      .start()
    try {
      stream.processAllAvailable()
      val got = spark.table(qn).agg(count(lit(1)), sum($"k")).collect().head
      val want = spark.read.format("graft-columnar").load(dir)
        .agg(count(lit(1)), sum($"k")).collect().head
      assert(got === want, s"replayed $got, table holds $want")
      assert(stream.lastProgress.sources.head.endOffset === "2")
    } finally stream.stop()
  }

  test("position updates: no data file rewritten, batches refuse to stack, compaction converges") {
    import spark.implicits._
    val dir = tmp()
    spark.range(0, 3000).select($"id".as("k"),
        ($"id" % 5).cast(IntegerType).as("g"),
        ($"id" * 10).cast(DoubleType).as("v"))
      .repartitionByRange(3, $"id").sortWithinPartitions("id")
      .write.format("graft-columnar").mode("overwrite").save(dir)
    val before = ColumnarFormat.listFiles(dir)
      .map(f => f.getFileName.toString ->
        java.util.Arrays.hashCode(java.nio.file.Files.readAllBytes(f))).toMap
    GcolRowOps.updateWherePos(spark, dir, "g = 2",
      Map("v" -> "v + 0.5", "g" -> "9"))
    // data files BYTE-IDENTICAL: the update lives in the sidecars
    val after = ColumnarFormat.listFiles(dir)
      .map(f => f.getFileName.toString ->
        java.util.Arrays.hashCode(java.nio.file.Files.readAllBytes(f))).toMap
    assert(after === before, "MoR update must not touch data files")
    val mor = GcolRowOps.readMoRPos(spark, dir)
    assert(mor.count() === 3000)
    assert(mor.filter($"g" === 2).count() === 0)
    assert(mor.filter($"g" === 9).count() === 600)
    assert(mor.filter($"k" === 2L).collect().head.getDouble(2) === 20.5)
    assert(mor.filter($"k" === 3L).collect().head.getDouble(2) === 30.0)
    // stacking refused: patch expressions evaluate against BASE rows
    intercept[IllegalArgumentException] {
      GcolRowOps.updateWherePos(spark, dir, "g = 9", Map("v" -> "v"))
    }
    // merge refused while update rows are pending
    intercept[IllegalArgumentException] {
      GcolRowOps.merge(spark, dir,
        Seq((1L, "D", 0L)).toDF("k", "op", "new_v"), "k", Map.empty)
    }
    // compaction folds deletes AND upserts in; plain == MoR; sidecars gone
    val morRows = mor.orderBy("k", "g").collect()
    GcolRowOps.compactPos(spark, dir)
    val plain = spark.read.format("graft-columnar").load(dir)
    assert(plain.orderBy("k", "g").collect() === morRows)
    assert(ColumnarFormat.listFiles(
      java.nio.file.Paths.get(dir).resolve(GcolRowOps.PosDeletesSubdir)
        .toString).isEmpty)
    assert(ColumnarFormat.listFiles(
      java.nio.file.Paths.get(dir).resolve(GcolRowOps.PosUpsertsSubdir)
        .toString).isEmpty)
    // and a second update cycle now proceeds
    GcolRowOps.updateWherePos(spark, dir, "k = 0", Map("v" -> "v + 1.0"))
    assert(GcolRowOps.readMoRPos(spark, dir)
      .filter($"k" === 0L).collect().head.getDouble(2) === 1.0)
  }

  test("snapshot commits: atomic pointer, kept replaced files, exact time travel, loud vacuum") {
    import spark.implicits._
    val dir = tmp()
    spark.range(0, 4000).select($"id".as("k"), ($"id" * 10).as("v"))
      .repartitionByRange(4, $"id").sortWithinPartitions("id")
      .write.format("graft-columnar").mode("overwrite").save(dir)
    assert(GcolSnapshots.headVersion(dir) === Some(1L))
    val v1Files = GcolSnapshots.files(dir, 1L)
    val v1Rows = spark.read.format("graft-columnar").load(dir)
      .orderBy("k").collect()
    // a CoW merge becomes v2; the replaced file STAYS on disk
    val changes = Seq((5L, "U", 999L), (7L, "D", 0L)).toDF("k", "op", "new_v")
    GcolRowOps.merge(spark, dir, changes, "k", Map("v" -> "new_v"))
    assert(GcolSnapshots.headVersion(dir) === Some(2L))
    v1Files.foreach(n => assert(
      java.nio.file.Files.exists(java.nio.file.Paths.get(dir).resolve(n)),
      s"replaced file $n must survive the publish (time travel)"))
    // head reads the merged state; the scan NEVER double-reads the
    // replaced rows even though old and new files coexist on disk
    val head = spark.read.format("graft-columnar").load(dir)
    assert(head.count() === 3999)
    assert(head.filter($"k" === 5L).collect().head.getLong(1) === 999L)
    assert(head.filter($"k" === 7L).count() === 0)
    // time travel: v1 is EXACTLY the pre-merge table
    val back = spark.read.format("graft-columnar").option("asOf", "1")
      .load(dir).orderBy("k").collect()
    assert(back === v1Rows)
    // an append becomes v3 and lands in head but not in v2
    Seq((100000L, 1L)).toDF("k", "v")
      .write.format("graft-columnar").mode("append").save(dir)
    assert(GcolSnapshots.headVersion(dir) === Some(3L))
    assert(spark.read.format("graft-columnar").load(dir).count() === 4000)
    assert(spark.read.format("graft-columnar").option("asOf", "2")
      .load(dir).count() === 3999)
    // streaming replay from 0 delivers the HEAD state once — files a
    // later version replaced are skipped, not read twice
    val qn = "gcol_snap_stream_" + System.nanoTime()
    val stream = spark.readStream.format("graft-columnar").load(dir)
      .writeStream.format("memory").queryName(qn)
      .option("checkpointLocation", tmp()).start()
    try {
      stream.processAllAvailable()
      assert(spark.table(qn).count() === 4000)
    } finally stream.stop()
    // vacuum keeps the head, drops v1/v2, deletes unreferenced files;
    // old versions then fail LOUDLY
    val deleted = GcolSnapshots.vacuum(dir, keepLast = 1)
    assert(deleted.nonEmpty)
    assert(GcolSnapshots.retainedVersions(dir) === Seq(3L))
    assert(spark.read.format("graft-columnar").load(dir).count() === 4000)
    intercept[IllegalArgumentException] {
      spark.read.format("graft-columnar").option("asOf", "1").load(dir)
        .count()
    }
    // the lost-update guard: committing against a stale head refuses
    intercept[IllegalArgumentException] {
      GcolSnapshots.commit(dir, Seq("bogus.gcol"), expectedHead = Some(1L))
    }
  }

  test("catalog SQL surface: ALTER TABLE routes to schema evolution, VERSION AS OF time-travels") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.gcol_ddl", "graft.sources.GcolCatalog")
    val dir = tmp()
    spark.range(0, 1000).select($"id".as("k"), ($"id" * 2).as("v"))
      .write.format("graft-columnar").mode("overwrite").save(dir)
    // plain SQL DDL, metadata-only underneath
    spark.sql(s"ALTER TABLE gcol_ddl.`$dir` RENAME COLUMN v TO val")
    spark.sql(s"ALTER TABLE gcol_ddl.`$dir` ADD COLUMNS (note STRING)")
    val t = spark.table(s"gcol_ddl.`$dir`")
    assert(t.schema.fieldNames.toSeq === Seq("k", "val", "note"))
    assert(t.filter($"k" === 5L).collect().head.getLong(1) === 10L)
    // an append becomes v2; SQL time travel reads v1 exactly
    Seq((5000L, 1L, "x")).toDF("k", "val", "note")
      .write.format("graft-columnar").mode("append").save(dir)
    assert(spark.table(s"gcol_ddl.`$dir`").count() === 1001)
    val v1 = spark.sql(
      s"SELECT count(*) AS n FROM gcol_ddl.`$dir` VERSION AS OF 1")
      .collect().head.getLong(0)
    assert(v1 === 1000L)
    spark.sql(s"ALTER TABLE gcol_ddl.`$dir` DROP COLUMN note")
    assert(spark.table(s"gcol_ddl.`$dir`").schema.fieldNames.toSeq ===
      Seq("k", "val"))
    // type changes are NOT part of the contract — refused, not silent
    intercept[Exception] {
      spark.sql(s"ALTER TABLE gcol_ddl.`$dir` ALTER COLUMN k TYPE STRING")
    }
  }

  test("incremental reads + small-file compaction: O(delta) consumption, atomic bin-packing") {
    import spark.implicits._
    val dir = tmp()
    // 32 tiny files (the streaming-sink pathology) in version 1
    spark.range(0, 4000).select($"id".as("k"), ($"id" * 3).as("v"))
      .repartition(32)
      .write.format("graft-columnar").mode("overwrite").save(dir)
    assert(ColumnarFormat.scopedFiles(dir, None).size === 32)
    // two appends; the file-level change feed is exactly their files
    Seq((90001L, 1L)).toDF("k", "v")
      .write.format("graft-columnar").mode("append").save(dir)
    Seq((90002L, 2L), (90003L, 3L)).toDF("k", "v")
      .write.format("graft-columnar").mode("append").save(dir)
    val head = GcolSnapshots.headVersion(dir).get
    val added = GcolSnapshots.addedFiles(dir, 1L, head)
    val inc = spark.read.format("graft-columnar")
      .option("files", added.mkString(",")).load(dir)
    assert(inc.count() === 3)
    assert(inc.agg(sum($"k")).collect().head.getLong(0) === 270006L)
    assert(GcolSnapshots.removedFiles(dir, 1L, head).isEmpty)
    // compaction bin-packs the 35 small files into few, atomically
    val before = spark.read.format("graft-columnar").load(dir)
      .orderBy("k").collect()
    val published = GcolRowOps.compactFiles(spark, dir,
      targetBytes = 64L * 1024 * 1024)
    assert(published.nonEmpty)
    val filesAfter = ColumnarFormat.scopedFiles(dir, None)
    assert(filesAfter.size < 32,
      s"expected a file-count collapse, still ${filesAfter.size}")
    assert(spark.read.format("graft-columnar").load(dir)
      .orderBy("k").collect() === before)
    // the pre-compaction version is still time-travelable (files kept)
    assert(spark.read.format("graft-columnar").option("asOf", head.toString)
      .load(dir).count() === 4003)
    // the compaction IS the change feed's removal set at this step
    val head2 = GcolSnapshots.headVersion(dir).get
    assert(GcolSnapshots.removedFiles(dir, head, head2).size === 35)
    assert(GcolSnapshots.addedFiles(dir, head, head2).toSet ===
      published.toSet)
    // a healthy table (all files above threshold) is a no-op
    assert(GcolRowOps.compactFiles(spark, dir, targetBytes = 1024L) === Nil)
    // clustered tables keep their layout through compaction
    val dir2 = tmp()
    spark.range(0, 4000).select(($"id" % 8).cast(IntegerType).as("g"),
        $"id".as("k"))
      .repartition(16)
      .write.format("graft-columnar").option("clusterBy", "g")
      .mode("overwrite").save(dir2)
    GcolRowOps.compactFiles(spark, dir2, targetBytes = 64L * 1024 * 1024)
    val scan = {
      val q = spark.read.format("graft-columnar").load(dir2)
        .filter($"g" < 2)
      q.count(); gcolScan(q)
    }
    assert(scan.plannedBlocks < scan.totalBlocks,
      "compaction lost the clustered (pure-block) layout")
  }

  test("review hardening: retrofit keeps bucketSpec, bad updates write nothing, corruption stays loud") {
    import spark.implicits._
    // 1) addBloom must preserve EVERY footer field — losing bucketSpec
    //    would silently un-bucket the SPJ layout
    val bdir = tmp()
    spark.range(0, 4000).select($"id".as("k"), ($"id" * 3).as("va"))
      .withColumn("bkt", pmod($"k", lit(8)).cast(IntegerType))
      .write.format("graft-columnar").option("clusterBy", "bkt")
      .option("bucketSpec", "k:8").mode("overwrite").save(bdir)
    GcolIndexOps.addBloom(spark, bdir, Set("k"))
    ColumnarFormat.listFiles(bdir).foreach { f =>
      val ft = ColumnarFormat.readFooter(f)
      assert(ft.bucketSpec === Some(("k", 8)),
        s"$f lost its bucketSpec through the bloom retrofit")
      assert(ft.clusterBy === Some("bkt"))
    }
    // 2) a typo'd update expression must throw BEFORE any sidecar write
    val udir = tmp()
    spark.range(0, 100).select($"id".as("k"), ($"id" * 2).as("v"))
      .write.format("graft-columnar").mode("overwrite").save(udir)
    intercept[Exception] {
      GcolRowOps.updateWherePos(spark, udir, "k < 5",
        Map("v" -> "no_such_column + 1"))
    }
    assert(ColumnarFormat.listFiles(
      java.nio.file.Paths.get(udir).resolve(GcolRowOps.PosDeletesSubdir)
        .toString).isEmpty,
      "a failed update left a delete vector behind — rows silently lost")
    // the table is untouched and a corrected update then proceeds
    GcolRowOps.updateWherePos(spark, udir, "k < 5", Map("v" -> "v + 1"))
    assert(GcolRowOps.readMoRPos(spark, udir)
      .filter($"k" === 0L).collect().head.getLong(1) === 1L)
    // 3) a mixed-schema table WITHOUT evolution DDL fails loudly —
    //    silent null-vectors are reserved for declared evolution. The
    //    foreign file is committed into the table's snapshot: a file
    //    merely copied into the directory is in no version, never read
    val mdir = tmp()
    spark.range(0, 100).select($"id".as("x"), ($"id" * 2).as("y"))
      .write.format("graft-columnar").mode("overwrite").save(mdir)
    val stray = tmp()
    spark.range(0, 100).select($"id".as("x"), ($"id" * 3).as("z"))
      .write.format("graft-columnar").mode("overwrite").save(stray)
    val strayFile = ColumnarFormat.listFiles(stray).head
    val strayName = "stray-" + strayFile.getFileName.toString
    java.nio.file.Files.copy(strayFile,
      java.nio.file.Paths.get(mdir).resolve(strayName))
    assert(spark.read.format("graft-columnar").load(mdir)
      .agg(sum($"y")).collect().head.getLong(0) === 9900L)
    GcolSnapshots.commit(mdir, GcolSnapshots.headFiles(mdir) :+ strayName,
      expectedHead = GcolSnapshots.headVersion(mdir))
    // (a bare count() legitimately answers from footers — row counts
    // are schema-independent; reading VALUES must fail loudly)
    val err = intercept[Exception] {
      spark.read.format("graft-columnar").load(mdir)
        .agg(sum($"y")).collect()
    }
    assert(err.getMessage != null &&
      err.getMessage.contains("lacks required column"),
      s"expected the loud mixed-schema failure, got: ${err.getMessage}")
  }

  test("review hardening: CoW ops and SPJ survive a cluster/bucket-key rename; asOf is DDL-exact") {
    import spark.implicits._
    // 1) rename the CLUSTER column, then merge: the rewrite must replay
    //    the layout under the CURRENT name (file-local name would be
    //    refused by the write builder)
    val cdir = tmp()
    spark.range(0, 4000).select(($"id" % 8).cast(IntegerType).as("g"),
        $"id".as("k"), ($"id" * 10).as("v"))
      .write.format("graft-columnar").option("clusterBy", "g")
      .mode("overwrite").save(cdir)
    GcolSchemaOps.renameColumn(cdir, "g", "grp")
    GcolRowOps.merge(spark, cdir,
      Seq((5L, "U", 999L)).toDF("k", "op", "new_v"), "k", Map("v" -> "new_v"))
    val back = spark.read.format("graft-columnar").load(cdir)
    assert(back.schema.fieldNames.toSeq === Seq("grp", "k", "v"))
    assert(back.filter($"k" === 5L).collect().head.getLong(2) === 999L)
    // rewritten files carry the layout under the NEW name and the
    // key-grouped detection still fires across mixed old/new footers
    withConfs("spark.sql.sources.v2.bucketing.enabled" -> "true") {
      val agg = spark.read.format("graft-columnar").load(cdir)
        .groupBy("grp").agg(count(lit(1)).as("n"))
      agg.collect()
      assert(noShuffle(agg),
        s"rename broke key grouping:\n${agg.queryExecution.executedPlan}")
    }
    // 2) rename the BUCKET KEY, append post-rename, and the bucket SPJ
    //    layout survives the mixed footers
    spark.conf.set("spark.sql.catalog.gcol_rh", "graft.sources.GcolCatalog")
    val b1 = tmp(); val b2 = tmp()
    def writeB(dir: String, n: Long): Unit =
      spark.range(0, n).select($"id".as("k"), ($"id" * 3).as("va"))
        .withColumn("bkt", pmod($"k", lit(8)).cast(IntegerType))
        .write.format("graft-columnar").option("clusterBy", "bkt")
        .option("bucketSpec", "k:8").mode("overwrite").save(dir)
    writeB(b1, 4000); writeB(b2, 8000)
    GcolSchemaOps.renameColumn(b1, "k", "kk")
    Seq((90001L, 7L, 1)).toDF("kk", "va", "bkt")
      .select($"kk", $"va", pmod($"kk", lit(8)).cast(IntegerType).as("bkt"))
      .write.format("graft-columnar").option("clusterBy", "bkt")
      .option("bucketSpec", "kk:8").mode("append").save(b1)
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val ra = spark.table(s"gcol_rh.`$b1`").select($"kk", $"va")
      val rb = spark.table(s"gcol_rh.`$b2`").select($"k", col("va").as("vb"))
      val j = ra.join(rb, ra("kk") === rb("k"))
        .agg(count(lit(1)).as("n"))
      assert(j.collect().head.getLong(0) === 4000L)
      assert(joinSubtreeShuffleFree(j),
        s"bucket-key rename broke SPJ:\n${j.queryExecution.executedPlan}")
    }
    // 3) time travel is DDL-exact: a snapshot taken before a drop/add
    //    still reads with its commit-time schema
    val sdir = tmp()
    spark.range(0, 500).select($"id".as("k"), ($"id" * 2).as("v"))
      .write.format("graft-columnar").mode("overwrite").save(sdir)
    Seq((9000L, 1L)).toDF("k", "v")
      .write.format("graft-columnar").mode("append").save(sdir) // v2
    GcolSchemaOps.dropColumn(sdir, "v")
    GcolSchemaOps.addColumn(sdir, "w", LongType)
    assert(spark.read.format("graft-columnar").load(sdir)
      .schema.fieldNames.toSeq === Seq("k", "w"))
    val v1 = spark.read.format("graft-columnar").option("asOf", "1")
      .load(sdir)
    assert(v1.schema.fieldNames.toSeq === Seq("k", "v"),
      "asOf must read with the snapshot's commit-time schema")
    assert(v1.count() === 500)
    assert(v1.agg(sum($"v")).collect().head.getLong(0) === 249500L)
  }

  test("bloom retrofit: data segments byte-identical, idempotent, lookup pruning goes green") {
    import spark.implicits._
    val dir = tmp()
    // custkey-sorted, so zone maps are BLIND on k (every block spans
    // the key domain) — the q335 shape, but written WITHOUT blooms
    spark.range(0, 20000).select($"id".as("k"),
        (($"id" * 7919L) % 100L).as("c"), ($"id" * 10).as("v"))
      .repartitionByRange(2, $"c").sortWithinPartitions("c")
      .write.format("graft-columnar").option("rowsPerBlock", "1000")
      .mode("overwrite").save(dir)
    val files = ColumnarFormat.listFiles(dir)
    def dataRegion(f: java.nio.file.Path): (Long, Int) = {
      val ft = ColumnarFormat.readFooter(f)
      val end = ft.blockList.iterator
        .flatMap(_.cols.iterator.map(c => c.off + c.len)).max
      val bytes = java.nio.file.Files.readAllBytes(f).take(end.toInt)
      (end, java.util.Arrays.hashCode(bytes))
    }
    val before = files.map(f => f.getFileName.toString -> dataRegion(f)).toMap
    // zone maps alone: the point lookup opens EVERY block
    val noBloom = {
      val q = spark.read.format("graft-columnar").load(dir)
        .filter($"k" === 12345L)
      val r = q.collect()
      (gcolScan(q), r)
    }
    assert(noBloom._1.plannedBlocks === noBloom._1.totalBlocks,
      "custkey-sorted layout should leave zone maps blind on k")
    GcolIndexOps.addBloom(spark, dir, Set("k"))
    // file names unchanged; data regions byte-identical
    val afterFiles = ColumnarFormat.listFiles(dir)
    assert(afterFiles.map(_.getFileName.toString) ===
      files.map(_.getFileName.toString))
    val after = afterFiles.map(f => f.getFileName.toString -> dataRegion(f)).toMap
    assert(after === before, "retrofit must not touch data segments")
    // idempotent: a second run leaves the files alone entirely
    val full = afterFiles.map(f => f.getFileName.toString ->
      java.util.Arrays.hashCode(java.nio.file.Files.readAllBytes(f))).toMap
    GcolIndexOps.addBloom(spark, dir, Set("k"))
    val full2 = ColumnarFormat.listFiles(dir).map(f => f.getFileName.toString ->
      java.util.Arrays.hashCode(java.nio.file.Files.readAllBytes(f))).toMap
    assert(full2 === full, "second addBloom run must be a no-op")
    // the lookup now opens ~1 block and returns the identical rows
    val q2 = spark.read.format("graft-columnar").load(dir)
      .filter($"k" === 12345L)
    val r2 = q2.collect()
    val scan2 = gcolScan(q2)
    assert(r2 === noBloom._2)
    assert(scan2.plannedBlocks < scan2.totalBlocks / 4,
      s"bloom should prune most blocks: ${scan2.plannedBlocks}/${scan2.totalBlocks}")
  }

  test("an overwrite whose commit fails mid-move leaves the previous rows readable") {
    import spark.implicits._
    val dir = tmp()
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.format("graft-columnar").mode("overwrite").save(dir)
    // the writer creates its staged file when its task starts; the UDF
    // then deletes it, so the commit's move of that file into the root
    // fails (the task itself still succeeds)
    val vanish = udf { (k: Long) =>
      import scala.jdk.CollectionConverters._
      val stagings = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      try stagings.iterator().asScala
        .filter(_.getFileName.toString.startsWith("_staging-"))
        .foreach { st =>
          val parts = java.nio.file.Files.list(st)
          try parts.iterator().asScala.foreach(java.nio.file.Files.deleteIfExists)
          finally parts.close()
        }
      finally stagings.close()
      k
    }.asNondeterministic()
    intercept[Exception] {
      spark.range(9, 10, 1, 1).select(vanish($"id").as("k"), lit("z").as("v"))
        .write.format("graft-columnar").mode("overwrite").save(dir)
    }
    assert(GcolSnapshots.headVersion(dir) === Some(1L))
    val rows = spark.read.format("graft-columnar").load(dir)
      .as[(Long, String)].collect().sorted
    assert(rows.toSeq === Seq((1L, "a"), (2L, "b")),
      s"the failed overwrite published: ${rows.mkString(",")}")
  }

  test("an overwrite after a stream consumed a 4-file table reaches the stream") {
    import spark.implicits._
    val dir = tmp()
    spark.range(0, 4000).select($"id".as("k")).repartition(4)
      .write.format("graft-columnar").mode("overwrite").save(dir)
    assert(ColumnarFormat.scopedFiles(dir, None).size === 4)
    val qn = "gcol_stream_overwrite_" + System.nanoTime()
    val stream = spark.readStream.format("graft-columnar").load(dir)
      .writeStream.format("memory").queryName(qn)
      .option("checkpointLocation", tmp())
      .start()
    try {
      stream.processAllAvailable()
      assert(spark.table(qn).count() === 4000)
      spark.range(10000, 10010, 1, 1).select($"id".as("k"))
        .write.format("graft-columnar").mode("overwrite").save(dir)
      assert(ColumnarFormat.scopedFiles(dir, None).size === 1)
      stream.processAllAvailable()
      // rows already delivered stay delivered; the overwrite's rows arrive
      val got = spark.table(qn)
      assert(got.count() === 4010)
      assert(got.filter($"k" >= 10000L).count() === 10)
    } finally stream.stop()
  }

  test("a snapshot version another committer published first is never overwritten") {
    import spark.implicits._
    val dir = tmp()
    Seq((1L, "a")).toDF("k", "v")
      .write.format("graft-columnar").mode("overwrite").save(dir)
    val h = GcolSnapshots.headVersion(dir).get
    // a racing committer that read the same head already published h+1
    val theirs = java.nio.file.Paths.get(dir)
      .resolve(GcolSnapshots.SnapshotsSubdir).resolve(s"v${h + 1}.json")
    val content = s"""{"version":${h + 1},"files":[]}"""
    java.nio.file.Files.write(theirs, content.getBytes("UTF-8"))
    intercept[Exception] {
      GcolSnapshots.commit(dir, GcolSnapshots.files(dir, h), expectedHead = Some(h))
    }
    assert(GcolSnapshots.headVersion(dir) === Some(h))
    assert(new String(java.nio.file.Files.readAllBytes(theirs), "UTF-8") === content)
  }
}
