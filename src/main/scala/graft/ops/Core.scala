package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path, Paths}

import graft.Tables

/** The reference's 16-operator surface (SURVEY.md §2, O1-O16) as named
  * queries over the driver testdata, each with a DuckDB oracle twin.
  *
  * Conventions shared by every query in this engine:
  *   - every query ends in an `orderBy` on a deterministic key (the
  *     oracle compare requires stable row order across engines);
  *   - floating aggregates are rounded in-query (2-6 dp) so the
  *     partition-order nondeterminism of double sums can't flip a bit;
  *   - output column names match the oracle SQL aliases exactly;
  *   - integer widths match DuckDB's (count -> BIGINT, month -> INT cast
  *     on the oracle side).
  */
object Core {
  /** All scratch output lives under one per-JVM root that a shutdown hook
    * deletes recursively — repeated runs no longer accumulate temp dirs.
    */
  private lazy val tmpRoot: Path = {
    val root = Files.createTempDirectory("graft_run")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(root)))
    root
  }

  private[graft] def deleteRecursively(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      val children = Files.list(p)
      try children.iterator().asScala.foreach(deleteRecursively)
      finally children.close() // Files.list holds a handle until closed
    }
    Files.deleteIfExists(p)
  }

  /** Scratch dir under the shared cleaned-up root — use for ALL per-run
    * disk artifacts (CSV fixtures, sinks, bucketed tables, partitioned
    * layouts) so nothing leaks across runs.
    */
  private[graft] def tmp(prefix: String): String =
    Files.createTempDirectory(tmpRoot, prefix).toString

  // O1 (wallmart_pipeline.py:52): CSV scan with declared schema + header —
  // demonstrated as a scan over a CSV fixture since the testdata is
  // parquet. The fixture is a bounded, deterministic subset (l_orderkey %
  // 20 = 0, ~5% of rows) written ONCE per (jvm, sf dir) and cached: the
  // operator under test is the declared-schema read, not a full-dataset
  // rewrite (round-1 bench billed a whole-table CSV write to this query).
  private val csvFixtureCache = scala.collection.concurrent.TrieMap[String, String]()
  /** One-time CSV fixture ingest — also callable from the bench's untimed
    * setup phase, so the timed q01 measures the declared-schema read.
    */
  private[graft] def ensureCsvFixture(s: SparkSession, dir: String): String =
    csvFixtureCache.getOrElseUpdate(dir, {
      val p = tmp("graft_csv_fixture")
      Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 20 === 0)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .write.mode("overwrite").option("header", "true").csv(p)
      p
    })
  private def csvScan(s: SparkSession, dir: String): DataFrame = {
    val out = ensureCsvFixture(s, dir)
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType),
      StructField("l_returnflag", StringType)))
    s.read.option("header", "true").schema(schema).csv(out)
      .orderBy("l_orderkey", "l_linenumber")
  }

  // O2 (wallmart_pipeline.py:53): parquet scan; the projection is pruned
  // down to the scan (ReadSchema shows only these 4 columns).
  private def parquetScan(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .select("p_partkey", "p_name", "p_size", "p_retailprice")
      .orderBy("p_partkey")

  // O3 (wallmart_pipeline.py:55-57): schema-presence pre-flight. The
  // reference raises KeyError when `index` is absent; here the require
  // fails the query, and the returned frame records the per-column check.
  private def schemaCheck(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val required = Seq("l_extendedprice", "l_orderkey", "l_partkey", "l_quantity", "l_shipdate")
    val present = Tables.lineitem(s, dir).columns.toSet
    require(required.forall(present), s"Input data is missing required columns: ${required.filterNot(present)}")
    required.map(c => (c, present(c))).toDF("col_name", "present").orderBy("col_name")
  }

  // O4 (wallmart_pipeline.py:59): inner hash equi-join. The customer side
  // is the small one — Catalyst broadcasts it under the auto threshold; at
  // 100 TB the orders side shuffles on o_custkey only if customer outgrows
  // the broadcast limit.
  private def joinInner(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    o.join(c, o("o_custkey") === c("c_custkey"), "inner")
      .select(o("o_orderkey"), o("o_totalprice"), c("c_name"), c("c_mktsegment"))
      .orderBy("o_orderkey")
  }

  // O5+O6 (wallmart_pipeline.py:83-87): column-mean scalar aggregate
  // collected eagerly to the driver, then injected as the na.fill literal.
  // Nulls are synthesized deterministically (l_quantity == 25.0 -> null)
  // because the testdata has none.
  private def imputeMean(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val withNulls = Tables.lineitem(s, dir)
      .withColumn("qty", when($"l_quantity" === 25.0, lit(null).cast(DoubleType)).otherwise($"l_quantity"))
    // O5: eager, like pandas; an all-null column yields a null mean, and
    // pandas fillna(NaN) is then a graceful no-op — skip the fill.
    val meanRow = withNulls.agg(avg("qty")).first()
    val filled = if (meanRow.isNullAt(0)) withNulls
      else withNulls.na.fill(Map("qty" -> meanRow.getDouble(0))) // O6
    filled
      .groupBy("l_returnflag")
      .agg(Num.roundAt(avg("qty"), 2).as("avg_qty"), count(lit(1)).as("cnt"))
      .orderBy("l_returnflag")
  }

  // O6 (wallmart_pipeline.py:83-87) standalone: null-fill with an eagerly
  // collected column mean, output shaped to expose the fill directly —
  // null counts before/after plus the filled aggregate — so coverage is
  // auditable from the CORRECTNESS row alone (q05 additionally exercises
  // the fill feeding a downstream group-by).
  private def nullFill(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val withNulls = Tables.lineitem(s, dir)
      .withColumn("qty", when($"l_quantity" === 25.0, lit(null).cast(DoubleType)).otherwise($"l_quantity"))
    // O5: eager, like pandas; a degenerate all-null column yields a null
    // mean — mirror the transform() hardening: no fill, null fill_value
    // (pandas fillna(NaN) is a no-op), instead of NPE on getDouble.
    val meanRow = withNulls.agg(avg("qty")).first()
    val meanOpt = if (meanRow.isNullAt(0)) None else Some(meanRow.getDouble(0))
    val filled = meanOpt.fold(withNulls)(m => withNulls.na.fill(Map("qty" -> m))) // O6
    val fillValue = meanOpt.fold(lit(null).cast(DoubleType))(m => Num.roundAt(lit(m), 2))
    withNulls.agg(count(lit(1)).minus(count($"qty")).as("nulls_before")).crossJoin(
      filled.agg(
        count(lit(1)).minus(count($"qty")).as("nulls_after"),
        Num.roundAt(avg($"qty"), 2).as("avg_filled_qty"),
        fillValue.as("fill_value")))
  }

  // O7 (wallmart_pipeline.py:89): fixed-format string->timestamp with
  // coerce-to-null. Spark 4 runs ANSI mode, so the coercing variant is
  // try_to_timestamp (the plain one raises on malformed input).
  private def dateParse(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir).select(
      $"event_id",
      unix_micros(try_to_timestamp(
        date_format($"ts", "yyyy-MM-dd HH:mm:ss"), lit("yyyy-MM-dd HH:mm:ss"))).as("parsed_us"),
      try_to_timestamp(lit("not a timestamp"), lit("yyyy-MM-dd HH:mm:ss")).isNull.as("coerced_null")
    ).orderBy("event_id")
  }

  // O8 (wallmart_pipeline.py:90): date-part extraction, null-safe.
  private def monthExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir).select(
      $"o_orderkey",
      month($"o_orderdate").as("order_month"),
      year($"o_orderdate").as("order_year")
    ).orderBy("o_orderkey")
  }

  // O9 (wallmart_pipeline.py:92-93): strict range predicate; pushed down
  // to the parquet scan (PushedFilters: [GreaterThan(l_extendedprice,...)]).
  private def filterRange(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .filter($"l_extendedprice" > 30000.0 && $"l_discount" <= 0.05)
      .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount")
      .orderBy("l_orderkey", "l_linenumber")
  }

  // O10 (wallmart_pipeline.py:94): projection; column pruning reaches the
  // scan, so only these 4 of 11 lineitem columns are read.
  private def project(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_linenumber", $"l_returnflag",
        Num.epochUs($"l_shipdate").as("ship_us"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  // O11-O13 (wallmart_pipeline.py:117-119): group-by-month mean with the
  // explicit null-key filter (pandas drops NaN keys; Spark keeps them),
  // renamed aggregate, rounded. Partial aggregation (map-side combine)
  // makes this a single shuffle of 12 groups regardless of input size.
  private def groupAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .withColumn("ship_month", month($"l_shipdate"))
      .filter($"ship_month".isNotNull)
      .groupBy("ship_month")
      .agg(
        Num.roundAt(avg($"l_extendedprice"), 2).as("avg_price"),
        Num.roundAt(sum($"l_quantity"), 2).as("sum_qty"),
        count(lit(1)).as("cnt"))
      .orderBy("ship_month")
  }

  // O12 (wallmart_pipeline.py:118): column rename.
  private def rename(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .withColumnRenamed("l_orderkey", "order_id")
      .withColumnRenamed("l_linenumber", "line_no")
      .withColumnRenamed("l_extendedprice", "price")
      .select("order_id", "line_no", "price")
      .orderBy("order_id", "line_no")
  }

  // O13 (wallmart_pipeline.py:119): numeric rounding of a computed column.
  private def roundScalar(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir).select(
      $"l_orderkey", $"l_linenumber",
      Num.roundAt($"l_extendedprice" * (lit(1.0) - $"l_discount"), 2).as("net_price"),
      floor($"l_extendedprice").as("price_floor"),
      ceil($"l_extendedprice").as("price_ceil")
    ).orderBy("l_orderkey", "l_linenumber")
  }

  // O14 (wallmart_pipeline.py:140-143): CSV sink (header, overwrite) — the
  // written output is read back so the oracle can verify content, not just
  // existence.
  private def csvSink(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = tmp("graft_csv_sink")
    Tables.lineitem(s, dir)
      .groupBy(month($"l_shipdate").as("ship_month"))
      .agg(Num.roundAt(avg($"l_extendedprice"), 2).as("avg_price"))
      .coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(out)
    val schema = StructType(Seq(
      StructField("ship_month", IntegerType),
      StructField("avg_price", DoubleType)))
    s.read.option("header", "true").schema(schema).csv(out).orderBy("ship_month")
  }

  // O15 (wallmart_pipeline.py:145-150): JDBC sink, config-gated and OFF by
  // default (db_url=None parity). The frame records what would be written;
  // row counts are computed from the data so the oracle checks real values.
  private def jdbcSinkGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    // Both gate counts in ONE job (one lineitem scan): a conditional count
    // for the filter and countDistinct for the months. countDistinct
    // matches the oracle's count(DISTINCT ...) NULL semantics — a null
    // month must not count as a group.
    val gate = li.agg(
      count(when($"l_extendedprice" > 30000.0, lit(1))).as("clean"),
      countDistinct(month($"l_shipdate")).as("agg")).first()
    val (cleanCount, aggCount) = (gate.getLong(0), gate.getLong(1))
    val enabled = graft.etl.JdbcSink.writeIfEnabled(li.limit(0), None, "clean_data")
    Seq(("agg_data", aggCount, enabled), ("clean_data", cleanCount, enabled))
      .toDF("table_name", "row_count", "jdbc_enabled")
      .orderBy("table_name")
  }

  // O16 (wallmart_pipeline.py:157-168): output-existence validation after
  // the sink actions.
  private def validateOutputs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = tmp("graft_validate")
    val li = Tables.lineitem(s, dir)
    val frames = Map(
      "agg_data" -> li.groupBy("l_returnflag").agg(count(lit(1)).as("cnt")),
      "clean_data" -> li.filter($"l_extendedprice" > 30000.0).limit(100))
    val paths = graft.etl.WalmartPipeline.load(frames, out)
    graft.etl.WalmartPipeline.validate(paths)
      .map { case (p, ok) => (Paths.get(p).getFileName.toString, ok) }
      .toDF("output", "exists")
      .orderBy("output")
  }

  // q77: JSONL source scan — the interchange format every LLM corpus
  // ships in. The fixture is written ONCE per (jvm, sf dir) from the
  // documents table (to_json line records, text excluded to keep the
  // ingest bounded); the timed query is the DECLARED-SCHEMA `read.json`
  // — no sampling pass for inference, the schema prunes to the four
  // used fields at the scan exactly like parquet ReadSchema. Oracle:
  // the same rollup over the parquet original, proving the JSON round
  // trip is lossless.
  private val jsonlFixtureCache = scala.collection.concurrent.TrieMap[String, String]()
  private[graft] def ensureJsonlDocs(s: SparkSession, dir: String): String =
    jsonlFixtureCache.getOrElseUpdate(dir, {
      val p = tmp("graft_jsonl_fixture")
      Tables.documents(s, dir)
        .select(to_json(struct(col("doc_id"), col("lang"), col("source"),
          col("n_chars"))).as("value"))
        .write.mode("overwrite").text(p)
      p
    })
  private val xmlFixtureCache = scala.collection.concurrent.TrieMap[String, String]()
  /** One-time XML ingest of the orders subset — the fourth source format
    * (CSV q01, parquet q02, ORC q82, JSONL q77, XML q116): Spark 4 ships
    * the XML data source natively. Written once per (jvm, dir) like the
    * other fixtures; pre-paid in the bench's untimed setup.
    */
  private[graft] def ensureXmlOrders(s: SparkSession, dir: String): String =
    xmlFixtureCache.getOrElseUpdate(dir, {
      val p = tmp("graft_xml_fixture")
      Tables.orders(s, dir)
        .filter(col("o_orderkey") % 20 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"))
        .write.mode("overwrite")
        .option("rootTag", "orders").option("rowTag", "order")
        .xml(p)
      p
    })

  // q116: XML source scan with a DECLARED schema (inference would cost
  // an extra pass and can mistype sparse fields) — the interchange
  // format B2B/legacy feeds still arrive in. The oracle runs the same
  // rollup on the parquet original: the round trip must change no bits
  // (q77's JSONL contract, third text format).
  private def xmlScan(s: SparkSession, dir: String): DataFrame = {
    val out = ensureXmlOrders(s, dir)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType)))
    s.read.schema(schema).option("rowTag", "order").xml(out)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        Num.roundAt(sum(col("o_totalprice")), 2).as("total"),
        min(col("o_orderkey")).as("first_key"),
        max(col("o_orderkey")).as("last_key"))
      .orderBy("o_orderstatus")
  }

  private def jsonlScan(s: SparkSession, dir: String): DataFrame = {
    val out = ensureJsonlDocs(s, dir)
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("lang", StringType),
      StructField("source", StringType),
      StructField("n_chars", LongType)))
    s.read.schema(schema).json(out)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy("lang", "source")
  }

  // q131: robust CSV ingest with malformed-record quarantine — the
  // schema-enforcement contract every production pipeline needs at the
  // door (the reference trusts its inputs; a 100 TB feed cannot). The
  // fixture deterministically corrupts the quantity field of every
  // l_orderkey % 97 == 0 row. The read runs mode=DROPMALFORMED (typed
  // schema; a field that fails to parse drops the row) and the
  // quarantine census is total text lines minus surviving rows — two
  // scans of the file, both distributed, no caching. The PERMISSIVE
  // corrupt-record-column variant (raw line preserved per bad row) is
  // spec-tested instead of benched because Spark disallows plans that
  // reference only the corrupt column without a cache barrier. The
  // oracle reconstructs both partitions from the corruption rule over
  // the clean table. l_quantity is integer-valued, so its double sum
  // is exact under any partitioning.
  private val corruptCsvCache = scala.collection.concurrent.TrieMap[String, String]()
  private[graft] def ensureCorruptCsv(s: SparkSession, dir: String): String =
    corruptCsvCache.getOrElseUpdate(dir, {
      val p = tmp("graft_corrupt_csv")
      Tables.lineitem(s, dir)
        .select(concat_ws(",",
          col("l_orderkey"), col("l_linenumber"),
          when(col("l_orderkey") % 97 === 0, lit("NOT_A_NUMBER"))
            .otherwise(col("l_quantity").cast(StringType)),
          col("l_returnflag")).as("value"))
        .write.mode("overwrite").text(p)
      p
    })
  private def csvQuarantine(s: SparkSession, dir: String): DataFrame = {
    val p = ensureCorruptCsv(s, dir)
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType),
      StructField("l_returnflag", StringType)))
    val good = s.read.schema(schema).option("mode", "DROPMALFORMED").csv(p)
    val byFlag = good.groupBy(col("l_returnflag").as("category"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).cast(LongType).as("sum_qty"))
    val nLines = s.read.text(p).agg(count(lit(1)).as("n_lines"))
    // count(l_quantity), not count(*): a CSV count with no required
    // columns skips parsing entirely, so malformed rows would be
    // counted as good — referencing the corrupted field forces the
    // parse (quantity is never null in surviving rows)
    val nGood = good.agg(count(col("l_quantity")).as("n_good"))
    val corrupt = nLines.crossJoin(nGood) // two 1-row aggregate frames
      .select(lit("_corrupt").as("category"),
        (col("n_lines") - col("n_good")).as("n"),
        lit(null).cast(LongType).as("sum_qty"))
    byFlag.unionAll(corrupt).orderBy("category")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q131_csv_quarantine" -> (csvQuarantine _),
    "q01_csv_scan"       -> (csvScan _),
    "q77_jsonl_scan"     -> (jsonlScan _),
    "q116_xml_scan"      -> (xmlScan _),
    "q02_parquet_scan"   -> (parquetScan _),
    "q03_schema_check"   -> (schemaCheck _),
    "q04_join_inner"     -> (joinInner _),
    "q05_impute_mean"    -> (imputeMean _),
    "q06_null_fill"      -> (nullFill _),
    "q07_date_parse"     -> (dateParse _),
    "q08_month_extract"  -> (monthExtract _),
    "q09_filter_range"   -> (filterRange _),
    "q10_project"        -> (project _),
    "q11_group_agg"      -> (groupAgg _),
    "q12_rename"         -> (rename _),
    "q13_round"          -> (roundScalar _),
    "q14_csv_sink"       -> (csvSink _),
    "q15_jdbc_sink_gate" -> (jdbcSinkGate _),
    "q16_validate"       -> (validateOutputs _)
  )

  val oracle: Map[String, String] = Map(
    "q131_csv_quarantine" ->
      """SELECT l_returnflag AS category, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        |FROM lineitem WHERE l_orderkey % 97 != 0 GROUP BY 1
        |UNION ALL
        |SELECT '_corrupt', CAST(count(*) AS BIGINT), CAST(NULL AS BIGINT)
        |FROM lineitem WHERE l_orderkey % 97 = 0
        |ORDER BY category""".stripMargin,
    "q01_csv_scan" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem WHERE l_orderkey % 20 = 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q77_jsonl_scan" ->
      """SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM documents GROUP BY 1, 2 ORDER BY lang, source""".stripMargin,
    "q02_parquet_scan" ->
      """SELECT p_partkey, p_name, p_size, p_retailprice
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q116_xml_scan" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |       round(sum(o_totalprice), 2) AS total,
        |       min(o_orderkey) AS first_key,
        |       max(o_orderkey) AS last_key
        |FROM orders WHERE o_orderkey % 20 = 0
        |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,
    "q03_schema_check" ->
      """SELECT * FROM (VALUES
        |  ('l_extendedprice', true), ('l_orderkey', true), ('l_partkey', true),
        |  ('l_quantity', true), ('l_shipdate', true)) AS t(col_name, present)
        |ORDER BY col_name""".stripMargin,
    "q04_join_inner" ->
      """SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,
    "q05_impute_mean" ->
      """WITH t AS (
        |  SELECT l_returnflag,
        |         CASE WHEN l_quantity = 25.0 THEN NULL ELSE l_quantity END AS qty
        |  FROM lineitem),
        |m AS (SELECT avg(qty) AS mq FROM t)
        |SELECT l_returnflag, round(avg(coalesce(qty, mq)), 2) AS avg_qty,
        |       CAST(count(*) AS BIGINT) AS cnt
        |FROM t, m GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q06_null_fill" ->
      """WITH t AS (
        |  SELECT CASE WHEN l_quantity = 25.0 THEN NULL ELSE l_quantity END AS qty
        |  FROM lineitem),
        |m AS (SELECT avg(qty) AS mq FROM t)
        |SELECT (SELECT CAST(count(*) - count(qty) AS BIGINT) FROM t) AS nulls_before,
        |       CAST(0 AS BIGINT) AS nulls_after,
        |       round(avg(coalesce(qty, mq)), 2) AS avg_filled_qty,
        |       round(max(mq), 2) AS fill_value
        |FROM t, m""".stripMargin,
    "q07_date_parse" ->
      """SELECT event_id,
        |       epoch_us(try_strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'),
        |                             '%Y-%m-%d %H:%M:%S')) AS parsed_us,
        |       try_strptime('not a timestamp', '%Y-%m-%d %H:%M:%S') IS NULL AS coerced_null
        |FROM events ORDER BY event_id""".stripMargin,
    "q08_month_extract" ->
      """SELECT o_orderkey,
        |       CAST(month(o_orderdate) AS INTEGER) AS order_month,
        |       CAST(year(o_orderdate) AS INTEGER) AS order_year
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q09_filter_range" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount
        |FROM lineitem
        |WHERE l_extendedprice > 30000.0 AND l_discount <= 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q10_project" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, epoch_us(l_shipdate) AS ship_us
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q11_group_agg" ->
      """SELECT CAST(month(l_shipdate) AS INTEGER) AS ship_month,
        |       round(avg(l_extendedprice), 2) AS avg_price,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       CAST(count(*) AS BIGINT) AS cnt
        |FROM lineitem
        |WHERE month(l_shipdate) IS NOT NULL
        |GROUP BY 1 ORDER BY ship_month""".stripMargin,
    "q12_rename" ->
      """SELECT l_orderkey AS order_id, l_linenumber AS line_no, l_extendedprice AS price
        |FROM lineitem ORDER BY order_id, line_no""".stripMargin,
    "q13_round" ->
      """SELECT l_orderkey, l_linenumber,
        |       round(l_extendedprice * (1.0 - l_discount), 2) AS net_price,
        |       CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
        |       CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q14_csv_sink" ->
      """SELECT CAST(month(l_shipdate) AS INTEGER) AS ship_month,
        |       round(avg(l_extendedprice), 2) AS avg_price
        |FROM lineitem GROUP BY 1 ORDER BY ship_month""".stripMargin,
    "q15_jdbc_sink_gate" ->
      """SELECT * FROM (
        |  SELECT 'agg_data' AS table_name,
        |         (SELECT CAST(count(DISTINCT month(l_shipdate)) AS BIGINT) FROM lineitem) AS row_count,
        |         false AS jdbc_enabled
        |  UNION ALL
        |  SELECT 'clean_data',
        |         (SELECT CAST(count(*) AS BIGINT) FROM lineitem WHERE l_extendedprice > 30000.0),
        |         false)
        |ORDER BY table_name""".stripMargin,
    "q16_validate" ->
      """SELECT * FROM (VALUES ('agg_data', true), ('clean_data', true)) AS t(output, "exists")
        |ORDER BY output""".stripMargin
  )
}
