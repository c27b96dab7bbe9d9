package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode, RDDScanExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, HashJoin, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.{WindowExecBase, WindowGroupLimitExec}
import org.apache.spark.sql.functions._

import graft.tsdb.{ChunkStore, ConvertOptions, Matcher, TsdbConverter, TsdbQueryable}
import graft.tsdb.promql.{HistTable, PromQL, PromQLContext}

/** Physical-plan properties of the scan-heaviest gate queries at
  * sf0.01 — the ones that matter at 100 TB: predicates reaching the
  * parquet scan (PushedFilters), pruned ReadSchema, partition pruning
  * on the bucket column, broadcast dims, no pair expansion, and which
  * storage layer a routed query reads. Plans are inspected as planned
  * (AQE's initial plan), never executed.
  */
class PlanAuditSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  private val dir = "/root/testdata/sf0.01"
  private val labelCols = Seq("event_type", "user_id")

  private lazy val events = SparkEntry.t(spark, dir, "events")

  /** `events` through the converter: sorted, bloom-filtered,
    * bucket-partitioned. */
  private lazy val converted: String = {
    val p = Files.createTempDirectory("graft_planaudit").toString + "/converted"
    TsdbConverter.convert(events, p, "ts", ConvertOptions(sortBy = labelCols))
    p
  }

  /** One plan under audit: the formatted explain text carries the
    * scan metadata (PushedFilters, ReadSchema, PartitionFilters, the
    * exchange arguments); the operator nodes, subqueries included,
    * carry joins, exchanges, windows and the scanned paths. */
  private final class Plan(df: DataFrame) {
    val text: String = df.queryExecution.explainString(FormattedMode)
    val nodes: Seq[SparkPlan] =
      collectWithSubqueries(df.queryExecution.executedPlan) { case p => p }

    def has(needles: String*): Unit = needles.foreach(n =>
      assert(text.contains(n), s"plan lacks '$n':\n$text"))
    def lacks(needles: String*): Unit = needles.foreach(n =>
      assert(!text.contains(n), s"plan has '$n':\n$text"))

    def count(c: Class[_]): Int = nodes.count(c.isInstance)
    def hasNodes(cs: Class[_]*): Unit = cs.foreach(c =>
      assert(count(c) > 0, s"plan has no ${c.getSimpleName}:\n$text"))
    def lacksNodes(cs: Class[_]*): Unit = cs.foreach(c =>
      assert(count(c) == 0, s"plan has a ${c.getSimpleName}:\n$text"))

    /** Shuffle, broadcast and reused exchanges. */
    def exchanges: Int = nodes.count {
      case _: Exchange | _: ReusedExchangeExec => true
      case _ => false
    }
    def hashShuffles: Int = nodes.count {
      case s: ShuffleExchangeLike => s.outputPartitioning.isInstanceOf[HashPartitioning]
      case _ => false
    }

    private def scansPath(fragment: String): Boolean = nodes.exists {
      case s: FileSourceScanExec =>
        s.relation.location.rootPaths.exists(_.toString.contains(fragment))
      case _ => false
    }
    def reads(fragments: String*): Unit = fragments.foreach(f =>
      assert(scansPath(f), s"no scan reads '$f':\n$text"))
    def skips(fragments: String*): Unit = fragments.foreach(f =>
      assert(!scansPath(f), s"a scan reads '$f':\n$text"))
  }

  private def plan(df: DataFrame): Plan = new Plan(df)
  private def plan(query: String, session: SparkSession = spark): Plan =
    new Plan(SparkEntry.queries(query)(session, dir))

  /** A session that broadcasts only what the code hints. At 100 TB
    * no side is small enough to auto-broadcast, so a broadcast the
    * big side relies on must come from a hint. Shares the
    * SparkContext; the shared session's conf is untouched. */
  private lazy val hintsOnly: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s
  }

  private val pairExpansion =
    Seq(classOf[CartesianProductExec], classOf[BroadcastNestedLoopJoinExec])
  private val windows = Seq(classOf[WindowExecBase], classOf[WindowGroupLimitExec])

  /** A layer-served query reads `layer` and never the raw events. */
  private def routedTo(p: Plan, layer: String): Unit = {
    p.reads(layer)
    p.skips("events.parquet")
  }

  /** The dual-file chunk select contract (ChunkStore, HistChunkStore),
    * planned in [[hintsOnly]]: the matched labels side broadcasts onto
    * the chunks scan (the 100 TB side never shuffles), the
    * event_type="view" matcher pushes into the labels scan, bucket
    * directories prune from the time range, and the mint/maxt frame
    * filter reaches the chunks scan's row-group stats. */
  private def chunkSelectContract(p: Plan): Unit = {
    p.hasNodes(classOf[BroadcastHashJoinExec])
    p.has("EqualTo(event_type,view)", "PartitionFilters: [", "GreaterThanOrEqual(maxt")
    assert(p.hashShuffles == 0, s"chunks side shuffles:\n${p.text}")
    p.lacksNodes(classOf[BroadcastNestedLoopJoinExec])
  }

  /** The reference-layout shard select contract (ParquetShardStore),
    * planned in [[hintsOnly]]: the matcher pushes into the labels-file
    * scan, the matched labels broadcast onto the chunks scan (joined
    * on row index, never shuffled), and the chunks ReadSchema holds
    * only the s_data_<i> columns whose window overlaps [Jan 5, Jan 20)
    * — column 0 is not read. */
  private def shardSelectContract(p: Plan): Unit = {
    p.hasNodes(classOf[BroadcastHashJoinExec])
    p.has("EqualTo(l_event_type,view)")
    assert(p.hashShuffles == 0, s"chunks side shuffles:\n${p.text}")
    p.lacks("s_data_0:")
    p.lacksNodes(classOf[BroadcastNestedLoopJoinExec])
  }

  // ===================== relational =====================

  test("q01_filter_project: both filters pushed, lineitem pruned to 6 of 11 columns") {
    val p = plan("q01_filter_project")
    p.has("LessThan(l_quantity,10.0)", "GreaterThanOrEqual(l_shipdate,",
      "struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double," +
        "l_extendedprice:double,l_returnflag:string,l_shipdate:timestamp_ntz>")
  }

  test("q03_join_topk: segment filter pushed") {
    plan("q03_join_topk").has("EqualTo(c_mktsegment,BUILDING)")
  }

  test("q04_multi_join: region filter pushed, dims broadcast") {
    val p = plan("q04_multi_join")
    p.has("EqualTo(r_name,ASIA)")
    p.hasNodes(classOf[BroadcastHashJoinExec])
  }

  test("q05_window_topk: rank pushdown plans WindowGroupLimit") {
    plan("q05_window_topk").hasNodes(classOf[WindowGroupLimitExec])
  }

  // ===================== raw selects =====================

  test("ts_select_eq: matcher equality pushed") {
    plan("ts_select_eq").has("EqualTo(event_type,click)")
  }

  test("ts_select_series: IN-list and time range pushed, value never read") {
    // series-only select (skipChunks analog): labels + the ts
    // predicate column only
    plan("ts_select_series").has("In(event_type, [click,purchase,view]",
      "GreaterThanOrEqual(ts,",
      "struct<ts:timestamp_ntz,user_id:bigint,event_type:string>")
  }

  test("ts_wide_select: wide-label matcher pushed, 5 of 50 columns read") {
    // the equality is what the label-sorted row groups and the
    // l_dim_00 bloom filter prune on
    plan("ts_wide_select").has("EqualTo(l_dim_00,v1)",
      "struct<ts:timestamp,value:double,l_dim_00:string,l_dim_04:string,l_dim_07:string>")
  }

  test("ts_group_left: the info vector broadcasts") {
    plan("ts_group_left").hasNodes(classOf[BroadcastHashJoinExec])
  }

  test("dd_decontaminate: the benchmark shingles broadcast") {
    plan("dd_decontaminate", hintsOnly).hasNodes(classOf[BroadcastHashJoinExec])
  }

  test("ts_offset_wow: scans pruned to 4 columns, vectors meet in a hash join") {
    val p = plan("ts_offset_wow")
    p.has("struct<ts:timestamp_ntz,user_id:bigint,event_type:string,value:double>")
    p.hasNodes(classOf[BroadcastHashJoinExec])
    p.lacksNodes(classOf[BroadcastNestedLoopJoinExec])
  }

  // ===================== dedup / LLM data =====================

  test("mm_phash_neardup: banded hamming join stays an equi-join") {
    plan("mm_phash_neardup").lacksNodes(pairExpansion: _*)
  }

  test("dd_minhash_lsh: documents pruned, banded joins stay equi-joins") {
    val p = plan("dd_minhash_lsh")
    p.has("struct<doc_id:bigint,text:string>")
    p.lacksNodes(pairExpansion: _*)
  }

  test("dd_simhash: banded joins stay equi-joins") {
    plan("dd_simhash").lacksNodes(pairExpansion: _*)
  }

  test("dd_substring: map-side partial gram agg, gram-keyed hash equi-join") {
    // duplicated grams are rare by construction, so the join usually
    // broadcasts; at high dup density a shuffled hash join is as good
    val p = plan("dd_substring")
    p.has("struct<doc_id:bigint,text:string>", "partial_min")
    p.hasNodes(classOf[HashJoin])
    p.lacksNodes(pairExpansion: _*)
  }

  test("ann_ivf_pq: probes and candidates broadcast, embeddings pruned") {
    val p = plan("ann_ivf_pq", hintsOnly)
    p.hasNodes(classOf[BroadcastHashJoinExec])
    p.has("struct<vec_id:bigint,embedding:array<float>>")
    p.lacksNodes(pairExpansion: _*)
  }

  test("txt_quality_model: one narrow map over the pruned scan, no join") {
    val p = plan("txt_quality_model")
    p.has("struct<doc_id:bigint,text:string>")
    p.lacksNodes(classOf[BaseJoinExec])
  }

  test("pipe_pack_sequences: per-shard hash partitioning, no join") {
    val p = plan("pipe_pack_sequences")
    p.has("hashpartitioning(shard")
    p.lacksNodes(classOf[BaseJoinExec])
  }

  test("dd_clusters: connected-component rounds stay equi-joins") {
    plan("dd_clusters").lacksNodes(pairExpansion: _*)
  }

  test("pipe_corpus_clean: semi/anti joins and cluster collapse stay keyed") {
    plan("pipe_corpus_clean").lacksNodes(pairExpansion: _*)
  }

  // ===================== TsdbQueryable over raw and converted =====================

  test("matcher_set_in_pushdown: an alternation matcher reaches the scan as In()") {
    plan(new TsdbQueryable(events, labelCols)
        .select("2024-01-01", "2024-01-31", Matcher.Re("event_type", "click|view")))
      .has("In(event_type, [click,view])")
  }

  test("bucket_partition_pruning: the converted layout prunes bucket directories") {
    plan(spark.read.parquet(converted).filter(col("bucket") === 19725L))
      .has("PartitionFilters: [isnotnull(bucket")
  }

  test("label_values_under_matchers_pushdown: matcher pushed, two label columns read") {
    // labelValues under a matcher on another label: the sorted row
    // groups and blooms prune, and no ts/value column materializes
    plan(new TsdbQueryable(spark.read.parquet(converted), labelCols)
        .labelValues("user_id", Seq(Matcher.Eq("event_type", "click"))))
      .has("EqualTo(event_type,click)", "struct<user_id:bigint,event_type:string>")
  }

  // ===================== chunk and shard layouts =====================

  test("ts_chunk_select: ChunkStore select keeps the chunk select contract") {
    val p = Files.createTempDirectory("graft_planaudit").toString + "/chunks"
    ChunkStore.write(events, p, labelCols, "ts", "value")
    chunkSelectContract(
      plan(ChunkStore.select(hintsOnly, p, "2024-01-05", "2024-01-20",
        Seq(Matcher.Eq("event_type", "view")), labelCols, "ts", "value")))
  }

  test("ts_shard_interop: shard select keeps the shard select contract") {
    shardSelectContract(plan("ts_shard_interop", hintsOnly))
  }

  test("ts_shard_series: skipChunks series reads the labels file only") {
    // the reference's Query(skipChunks=true) IO shape
    val p = plan("ts_shard_series")
    p.reads("labels.parquet")
    p.skips("chunks.parquet")
    p.lacksNodes(classOf[BaseJoinExec])
    assert(p.hashShuffles == 0, s"shuffles beyond the output sort:\n${p.text}")
  }

  test("ts_shard_neg_interop: the histogram-family shard select keeps the contract") {
    shardSelectContract(plan("ts_shard_neg_interop", hintsOnly))
  }

  test("ts_hist_chunk_select: HistChunkStore select keeps the chunk select contract") {
    chunkSelectContract(plan("ts_hist_chunk_select", hintsOnly))
  }

  test("ts_float_hist_select: float-histogram chunks keep the chunk select contract") {
    chunkSelectContract(plan("ts_float_hist_select", hintsOnly))
  }

  // ===================== PromQL front-end =====================

  test("ts_promql_ratio: parsed matcher and time range pushed, no pair expansion") {
    // µs events: Catalyst unwraps the loader's session-TZ cast
    // against the selector's literal range
    val p = plan("ts_promql_ratio")
    p.has("EqualTo(event_type,click)", "GreaterThanOrEqual(ts,")
    p.lacksNodes(pairExpansion: _*)
  }

  test("ts_promql_topk_offset: global top-k is TakeOrderedAndProject, no window") {
    val p = plan("ts_promql_topk_offset")
    p.hasNodes(classOf[TakeOrderedAndProjectExec])
    p.lacksNodes(windows: _*)
  }

  test("ts_promql_limitk: limitk by a label gets rank pushdown") {
    val p = plan("ts_promql_limitk")
    p.hasNodes(classOf[WindowGroupLimitExec])
    p.lacksNodes(pairExpansion: _*)
  }

  test("ts_promql_limit_ratio: the sha256 selection adds no exchange or join") {
    // the one hash exchange is the inner aggregation's
    val p = plan("ts_promql_limit_ratio")
    assert(p.hashShuffles <= 1, s"extra hash exchange:\n${p.text}")
    p.lacksNodes(classOf[BaseJoinExec])
  }

  test("ts_promql_mad: median and MAD meet on the series key, no pair expansion") {
    plan("ts_promql_mad").lacksNodes(pairExpansion: _*)
  }

  test("ts_promql_native_hist_pushdown: hist matcher and lookback pushed, columns pruned") {
    val p = Files.createTempDirectory("graft_planaudit").toString + "/nh"
    events.select(col("event_type"), col("user_id"),
        floor(unix_timestamp(col("ts")) / 86400).cast("long").as("d"))
      .distinct()
      .withColumn("seed",
        col("user_id") * 31 + col("d") * 7 + length(col("event_type")))
      .withColumn("zero_count", col("seed") % 3)
      .withColumn("pos_idx", sequence(lit(-2), lit(5)))
      .withColumn("pos_counts",
        transform(col("pos_idx"), i => (col("seed") * (i + 3)) % 7))
      .withColumn("ts", timestamp_seconds(col("d") * 86400))
      .write.mode("overwrite").parquet(p)
    val nh = plan(PromQL.compile("""histogram_quantile(0.9, nh{event_type="click"})""",
      PromQLContext(metrics = Map.empty, labelCols = labelCols,
        evalMs = 1706745600000L, lookbackMs = 40L * 86400000L,
        histMetrics = Map("nh" -> HistTable(spark.read.parquet(p))))))
    nh.has("EqualTo(event_type,click)", "GreaterThanOrEqual(ts,")
    // the fixture's derivation columns are never read
    nh.lacks("seed:", ",d:bigint")
  }

  test("ts_promql_nh_sum_quantile: the bucket-wise sum scans the table once") {
    val p = plan("ts_promql_nh_sum_quantile")
    assert(p.count(classOf[FileSourceScanExec]) == 1, p.text)
  }

  test("ts_promql_converted_pushdown: range pushed and bucket-pruned on the converted layout") {
    plan(PromQL.compile(
        """sum by (user_id) (sum_over_time(events{event_type="view"}[15d] offset 11d))""",
        PromQLContext(metrics = Map("events" -> spark.read.parquet(converted)),
          labelCols = labelCols, evalMs = 1706745600000L,
          bucketCol = Some("bucket"))))
      .has("EqualTo(event_type,view)", "GreaterThanOrEqual(ts,",
        "PartitionFilters: [isnotnull(bucket")
  }

  test("ts_promql_range_one_scan: a 23-step grid is one pruned scan") {
    // a per-step rescan would be the 100 TB killer
    val p = plan(PromQL.compileRange(
      """sum by (user_id) (rate(events{event_type="view"}[2d]))""",
      PromQLContext(metrics = Map("events" -> spark.read.parquet(converted)),
        labelCols = labelCols, evalMs = 1706745600000L,
        bucketCol = Some("bucket")),
      startMs = 1704672000000L, endMs = 1706572800000L, stepMs = 86400000L))
    p.has("EqualTo(event_type,view)", "GreaterThanOrEqual(ts,",
      "PartitionFilters: [isnotnull(bucket")
    assert(p.count(classOf[FileSourceScanExec]) == 1, p.text)
  }

  // ===================== TSDB block migration =====================

  test("ts_tsdb_block_convert: the block-converted layout keeps pushdown and pruning") {
    plan("ts_tsdb_block_convert").has("EqualTo(event_type,view)",
      "GreaterThanOrEqual(ts,", "PartitionFilters: [isnotnull(bucket")
  }

  test("ts_tsdb_block_nh_convert: the NH block bridge keeps the chunk select contract") {
    chunkSelectContract(plan("ts_tsdb_block_nh_convert", hintsOnly))
  }

  test("ts_tsdb_block_neg_convert: the signed block bridge keeps the chunk select contract") {
    chunkSelectContract(plan("ts_tsdb_block_neg_convert", hintsOnly))
  }

  test("ts_nh_neg_quantile: narrow block read, the output sort the only exchange") {
    val p = plan("ts_nh_neg_quantile")
    p.hasNodes(classOf[RDDScanExec])
    assert(p.exchanges <= 1, p.text)
  }

  test("ts_promql_nh_blocks: narrow block read, exchanges for the rate agg and sort only") {
    val p = plan("ts_promql_nh_blocks")
    p.hasNodes(classOf[RDDScanExec])
    assert(p.exchanges <= 2, p.text)
  }

  test("ts_promql_nh_reset_rate: one fold aggregation, no window or join") {
    // exchanges: the fixture's distinct, the series agg, the output sort
    val p = plan("ts_promql_nh_reset_rate")
    p.lacksNodes(windows :+ classOf[BaseJoinExec]: _*)
    assert(p.exchanges <= 3, p.text)
  }

  // ===================== rollup routing =====================

  test("ts_rollup_route: a 5-day step reads the 1d layer only, bucket-pruned") {
    // the 1h layer is also correct, at 24x the bytes
    val p = plan("ts_rollup_route")
    p.reads("graft_rollup_1d_")
    p.skips("graft_rollup_1h_")
    p.has("PartitionFilters: [")
  }

  test("ts_rollup_increase: the stitch is one windowless, joinless, bucket-pruned fold") {
    // exchanges: the series agg and the output sort
    val p = plan("ts_rollup_increase")
    p.lacksNodes(windows :+ classOf[BaseJoinExec]: _*)
    assert(p.exchanges <= 2, p.text)
    p.has("PartitionFilters: [")
  }

  test("ts_promql_rollup_range_rate: the grid rate is served from the 1d layer only") {
    val p = plan("ts_promql_rollup_range_rate")
    routedTo(p, "graft_rollup_1d_")
    p.skips("graft_rollup_1h_")
    p.lacksNodes(windows: _*)
  }

  test("ts_promql_tsdb_rollup: blocks -> layer -> routed grid reads the layer only") {
    val p = plan("ts_promql_tsdb_rollup")
    p.reads("graft_rollup_blocks_")
    p.lacksNodes(classOf[RDDScanExec])
    p.lacksNodes(windows: _*)
  }

  // the moment-sum and boundary-sample routed functions: every
  // compiled vector reads the 1d layer and stays windowless

  test("ts_promql_rollup_stddev: routed to the 1d layer, windowless") {
    val p = plan("ts_promql_rollup_stddev")
    routedTo(p, "graft_rollup_1d_")
    p.lacksNodes(windows: _*)
  }

  test("ts_promql_rollup_deriv: routed to the 1d layer, windowless") {
    val p = plan("ts_promql_rollup_deriv")
    routedTo(p, "graft_rollup_1d_")
    p.lacksNodes(windows: _*)
  }

  test("ts_promql_rollup_delta: routed to the 1d layer, windowless") {
    val p = plan("ts_promql_rollup_delta")
    routedTo(p, "graft_rollup_1d_")
    p.lacksNodes(windows: _*)
  }

  test("ts_promql_rollup_irate: routed to the 1d layer, windowless") {
    val p = plan("ts_promql_rollup_irate")
    routedTo(p, "graft_rollup_1d_")
    p.lacksNodes(windows: _*)
  }

  test("ts_promql_rollup_idelta: routed to the 1d layer, windowless") {
    val p = plan("ts_promql_rollup_idelta")
    routedTo(p, "graft_rollup_1d_")
    p.lacksNodes(windows: _*)
  }

  test("ts_promql_rollup_ts_of: routed to the 1d layer, windowless") {
    val p = plan("ts_promql_rollup_ts_of")
    routedTo(p, "graft_rollup_1d_")
    p.lacksNodes(windows: _*)
  }

  test("ts_promql_rollup_classic_quantile: le-bucket rates served from the classic layer") {
    // windows are expected: the interpolation walk lags over le, and
    // with raw absent they run over bucket-cardinality rows only
    routedTo(plan("ts_promql_rollup_classic_quantile"), "graft_clrollup_1d_")
  }

  // ===================== label index and sketch layers =====================

  test("ts_label_values_indexed: label metadata from the index only") {
    routedTo(plan("ts_label_values_indexed"), "graft_labelidx_")
  }

  test("ts_label_values_ranged: scoped metadata from the bucket-pruned index only") {
    routedTo(plan("ts_label_values_ranged"), "graft_labelidx_")
  }

  test("ts_quantile_sketch: the approx side reads the sketch layer, broadcast-attached") {
    val p = plan("ts_quantile_sketch", hintsOnly)
    p.reads("graft_qsketch_")
    p.hasNodes(classOf[BroadcastHashJoinExec])
    p.lacksNodes(classOf[SortMergeJoinExec])
  }

  test("ts_promql_quantile_sketch: the opt-in front-end reads the series-grain sketch layer") {
    // raw appears only on the contract's ground-truth side
    val p = plan("ts_promql_quantile_sketch", hintsOnly)
    p.reads("graft_qsketchfe_")
    p.hasNodes(classOf[BroadcastHashJoinExec])
  }

  // ===================== native-histogram rollups =====================

  test("ts_promql_nh_rollup_rate: NH rate served from the 7d layer, windowless") {
    val p = plan("ts_promql_nh_rollup_rate")
    routedTo(p, "graft_nh_rollup_")
    p.lacksNodes(windows: _*)
  }

  test("ts_promql_nh_rollup_delta: NH delta served from the 7d layer, windowless") {
    val p = plan("ts_promql_nh_rollup_delta")
    routedTo(p, "graft_nh_rollup_")
    p.lacksNodes(windows: _*)
  }

  test("ts_promql_nh_rollup_quantile: both routed quantiles read the 7d layer, windowless") {
    val p = plan("ts_promql_nh_rollup_quantile")
    routedTo(p, "graft_nh_rollup_")
    p.lacksNodes(windows: _*)
  }
}
