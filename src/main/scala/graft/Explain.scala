package graft

import org.apache.spark.sql.SparkSession

/** Plan audit: prints `explain("formatted")` for the scale-critical
  * queries so pushdown/pruning/broadcast/shuffle choices are reviewable.
  * `sbt "runMain graft.Explain [sfDir] [query...]"` — no args prints the
  * default audit set.
  */
object Explain {
  val auditSet: Seq[String] = Seq(
    "q09_filter_range",   // expect: PushedFilters into parquet scan
    "q10_project",        // expect: pruned ReadSchema (4 of 11 cols)
    "q04_join_inner",     // expect: BroadcastHashJoin (small side)
    "q11_group_agg",      // expect: partial HashAggregate before exchange
    "q21_dedup_minhash",  // expect: shuffle on band key, no CartesianProduct
    "q22_cosine_topk",    // expect: BroadcastNestedLoopJoin (probes broadcast)
    "q28_lsh_ann",        // expect: SortMergeJoin/ShuffledHashJoin on (t, bk)
    "q32_topk",           // expect: TakeOrderedAndProject, no global Sort
    "q35_tumbling_window",// expect: partial agg before exchange
    "q38_outer_broadcast",// expect: BroadcastHashJoin on nation
    "q50_partition_prune",// expect: PartitionFilters on order_month, 1/12 dirs read
    "q51_salted_join",    // expect: join keys (l_partkey, salt) — skew spread over 8
    "q53_range_join",     // expect: BroadcastNestedLoopJoin, range predicate stream-side
    "q66_decontamination",// expect: eval side broadcast (hinted), WindowGroupLimit for top-1
    "q72_profile",        // expect: ONE scan + Expand (multi-countDistinct), never per-column scans
    "q74_resample",       // expect: grid Generate + broadcast hourly join + fill Window, one shuffle key
    "q78_incremental_dedup", // expect: arrivals broadcast (hinted, BuildLeft), index never broadcast
    "q82_orc_scan",       // expect: PushedFilters into the ORC scan, 4-col ReadSchema
    "q83_bm25",           // expect: bounded local ranked frame (top-20 pre-collected via TakeOrdered)
    "q84_rolling_range",  // expect: ONE user_id exchange, RangeFrame window
    "q86_zorder_key",     // expect: map-side z-key projection, partial agg before exchange
    "q88_robust_anomaly", // expect: both join-backs BroadcastHashJoin
    "q90_dpp_join",       // expect: dynamicpruning#N in PartitionFilters, dim broadcast
    "q91_regression",     // expect: ONE partial HashAggregate pass (6 decimal sums)
    "q93_pq_ann",         // expect: 4-node pq_encode projection, no join for ADC scoring
    "q95_rolling_dau",    // expect: sketch fan-out joins DAYS x 7 rows, never user rows
    "q97_pagerank_step",  // expect: broadcast degree attach + dst-aggregate; no window sort
    "q102_corr_subquery", // expect: decorrelated aggregate + equi-join, merged sum/count subqueries
    "q104_time_travel",   // expect: plain parquet scan over the pinned snapshot's file list
    "q106_lateral_topn",  // expect: partial+final TopKPerGroupExec + equi-join, no nested loop
    "q107_variant_props", // expect: parse_json once, variant_get projections, partial agg
    "q119_triangles",     // expect: equi-joins only below the 1-row stat crossJoins
    "q123_native_topk",   // expect: partial+final TopKPerGroupExec, no Window, no Sort
    "q128_simjoin_prefix",// expect: shingle-keyed candidate equi-join, sorted_overlap verify
    "q129_weighted_sample",// expect: TopKPerGroupExec planned from the row_number idiom
    "q138_shingle_census", // expect: codegen'd Generate (shingle_windows), partial agg, TakeOrdered
    "q142_skyline",       // expect: bkt-partitioned local window; global pass only over survivors
    "q147_dedup_recall",  // expect: prefix-shingle + band equi-joins, no all-pairs anywhere
    "q148_multitouch",    // expect: user-keyed windows only, one timeline pass
    "q150_sequence_paths",// expect: user/session windows + TakeOrderedAndProject census
    "q151_fk_orphans",    // expect: broadcast anti-joins for dictionary parents
    "q158_cross_source_contamination", // expect: digest groupBy + broadcast total attaches
    "q159_zipf_law",      // expect: TakeOrderedAndProject top-1000, no global window
    "q160_centroid_purity", // expect: map-side centroid argmax, one census exchange
    "q161_event_lateness",// expect: user-partitioned window, exact percentile census
    "q163_video_census",  // expect: zero-shuffle batched mapPartitions decode
    "q164_rerank_ann"     // expect: broadcast shortlist join; exact d2 only on top-20 rows
  )

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else auditSet
    val spark = SparkSession.builder()
      .withExtensions(graft.functions.GraftExtensions.inject)
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { n =>
      println(s"\n================ $n ================")
      SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
