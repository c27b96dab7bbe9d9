package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tsdb.{DictionaryLabelScan, LabelIndexStore, Matcher, SelectionCache, TsdbConverter,
  TsdbQueryable}
import graft.tsdb.RollupStore.RollupLayer
import graft.tsdb.promql.{HistTable, PromQL, PromQLContext}
import graft.tsdb.shard.ParquetShardStore

/** `prom_query`: the Queryable + PromQL serving path. One client sends a
  * seeded request sequence back to back (closed loop, no think time)
  * against stores built in set-up; the loop writes nothing. See
  * [[PromQueryBench.Requests]] for the mix, which is fixed per block of
  * requests and includes exact repeats the selection cache can serve.
  */
object PromQueryBench {
  import PromData._

  val Hours = 6
  val Kinds: Seq[String] = Seq("range_raw", "range_rollup", "instant", "select", "metadata")
  val CacheEntries = 64
  /** Hours of the later, overlapping block set compacted in the traced run. */
  val CompactHours = 2
  /** Distinct requests of each checked kind compared after the loop. */
  val ChecksPerKind = 1

  sealed trait Req { def kind: String; def sub: String; def key: String }
  final case class RangeQ(kind: String, query: String, startMs: Long, endMs: Long,
      stepMs: Long) extends Req {
    def sub: String = kind
    def key = s"$kind|$query|$startMs|$endMs|$stepMs"
  }
  final case class InstantQ(query: String, evalMs: Long) extends Req {
    def kind = "instant"
    def sub = "instant"
    def key = s"instant|$query|$evalMs"
  }
  final case class SelectQ(store: String, mintMs: Long, maxtMs: Long,
      matchers: Seq[Matcher]) extends Req {
    def kind = "select"
    def sub = s"select_$store"
    def key = s"$sub|$mintMs|$maxtMs|${matchers.mkString(",")}"
  }
  final case class MetaQ(op: String, label: String, matchers: Seq[Matcher]) extends Req {
    def kind = "metadata"
    def sub: String = op
    def key = s"$op|$label|${matchers.mkString(",")}"
  }

  /** Seeded request source. Every block holds the same multiset of
    * request templates: per kind, one fresh request of each template,
    * and for each kind but metadata one exact repeat of a request issued
    * earlier in the block (a dashboard refresh; for a converted-layout
    * select, what the selection cache serves). The mix is therefore the
    * same for every seed; the seed picks label values, time ranges, which
    * request repeats, and the order.
    */
  final class Requests(seed: Long) {
    private val rnd = new java.util.Random(seed)
    private def one[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    private def job = one(Jobs)
    private def handler = one(Handlers)
    private val minute = 60000L

    def rangeRaw(template: Int): Req = {
      val start = T0 + (1 + rnd.nextInt(Hours - 2)) * HourMs + rnd.nextInt(4) * 15 * minute
      val q = template match {
        case 0 => s"""sum by (handler) (rate($Counter{job="$job"}[5m]))"""
        case 1 => s"""avg by (instance) ($Gauge{job="$job",handler=~"/api.*|/"})"""
        case _ => s"""max by (job) (rate($Counter{handler="$handler"}[1m]))"""
      }
      RangeQ("range_raw", q, start, start + HourMs, minute)
    }

    /** 5-6 h windows on a 1 h step and an hour-aligned grid: the 1 h
      * layer is eligible (resolution x 5 <= range) and aligned. */
    def rangeRollup(template: Int): Req = {
      val (q, range) = template match {
        case 0 => (s"sum by (job) (rate($Counter[5h]))", 5)
        case 1 => (s"""max by (job) (rate($Counter{handler="$handler"}[5h]))""", 5)
        case _ => (s"""sum by (handler) (increase($Counter{job="$job"}[6h]))""", 6)
      }
      RangeQ("range_rollup", q, T0 + (range + rnd.nextInt(Hours - range + 1)) * HourMs,
        T0 + Hours * HourMs, HourMs)
    }

    def instant(template: Int): Req = {
      val at = T0 + HourMs + rnd.nextInt((Hours - 1) * 240) * ScrapeMs
      val q = template match {
        case 0 => s"sum by (job) (rate($Counter[5m]))"
        case 1 => s"""topk(5, rate($Counter{job="$job"}[10m]))"""
        case _ => s"histogram_quantile(0.9, sum by (job) (rate($Hist[5m])))"
      }
      InstantQ(q, at)
    }

    def select(store: String, template: Int): Req = {
      val (len, m) = template match {
        case 0 => (HourMs, Seq(Matcher.Eq("job", job)))
        case 1 => (2 * HourMs, Seq(Matcher.Re("handler", "/api.*|/search"), Matcher.Eq("job", job)))
        case _ => (30 * minute, Seq(Matcher.Nre("job", "db|cache"), Matcher.Eq("handler", handler)))
      }
      val start = T0 + rnd.nextInt((Hours - 2) * 4) * 15 * minute
      SelectQ(store, start, start + len, Matcher.Eq(NameCol, one(FloatMetrics)) +: m)
    }

    def metadata(op: String): Req = op match {
      case "series_converted" => MetaQ(op, "", Seq(Matcher.Eq(NameCol, Counter), Matcher.Eq("job", job)))
      case "series_shard" => MetaQ(op, "", Seq(Matcher.Eq("job", job)))
      case "label_names" => MetaQ(op, "", Seq(Matcher.Eq("job", job)))
      // no matchers: routed to the label index
      case "label_values" => MetaQ(op, one(SeriesLabels), Nil)
      case _ => MetaQ(op, one(SeriesLabels), Nil)
    }

    /** Every template once, in a fixed order, without repeats. */
    def templates(): Seq[(String, Seq[Req])] = Seq(
      "range_raw" -> (0 until 3).map(rangeRaw),
      "range_rollup" -> (0 until 3).map(rangeRollup),
      "instant" -> (0 until 3).map(instant),
      "select" -> Seq(select("converted", 0), select("converted", 1),
        select("shard", 1), select("shard", 2)),
      "metadata" -> MetaOps.map(metadata))

    def block(): Seq[Req] = {
      val fresh = templates()
      val repeats = fresh.collect {
        case ("select", rs) => one(rs.filter(_.sub == "select_converted"))
        case (k, rs) if k != "metadata" => one(rs)
      }
      val order = new scala.util.Random(rnd.nextLong()).shuffle(fresh.flatMap(_._2)).toBuffer
      repeats.foreach { r =>
        val after = order.indexOf(r)
        order.insert(after + 1 + rnd.nextInt(order.size - after), r)
      }
      order.toSeq
    }
  }

  val MetaOps: Seq[String] =
    Seq("series_converted", "series_shard", "label_names", "label_values", "label_values_dictionary")
  /** Requests per block, and the share of them that repeat an earlier one. */
  val BlockSize: Int = new Requests(0).block().size
  val RepeatShare: Double = (Kinds.size - 1).toDouble / BlockSize

  /** The stores and query front-ends of one set-up. */
  final class Served(val spark: SparkSession, val st: Stores) {
    val converted: DataFrame = spark.read.parquet(st.converted)
    val cache = new SelectionCache(CacheEntries)
    val queryable: TsdbQueryable =
      new TsdbQueryable(converted, AllLabels, "ts", "value")
        .withBucketCol("bucket", ColDuration)
        .withLabelIndex(LabelIndexStore.read(spark, st.labelIndex))
    val cachedQueryable: TsdbQueryable = queryable.withSelectionCache(cache)
    private val hist = {
      val m = ParquetShardStore.meta(spark, st.histShard.get)
      // the context's bucket predicate applies to every selector, so the
      // histogram table carries the same derived bucket column
      ParquetShardStore.selectHist(spark, st.histShard.get, m.mintMs, m.maxtMs + 1)
        .drop(NameCol)
        .withColumn("bucket", TsdbConverter.bucketCol("ts", ColDuration))
    }
    val ctx: PromQLContext = PromQLContext(
      metrics = FloatMetrics.map(m => m -> converted.filter(col(NameCol) === m)
        .drop(NameCol)).toMap,
      labelCols = SeriesLabels,
      evalMs = T0,
      bucketCol = Some("bucket"),
      bucketDuration = ColDuration,
      histMetrics = Map(Hist -> HistTable(hist, sumCol = Some("hist_sum"))),
      rollups = st.rollups.map { case (m, p) => m -> Seq(RollupLayer(p, RollupMs)) })
    /** Parquet files per dataset root, for the scanned-file fraction. */
    val filesIn: Map[String, Int] =
      (Seq(st.converted, st.shard, st.histShard.get, st.labelIndex) ++ st.rollups.values)
        .map(p => p -> parquetFiles(p).size).toMap
  }

  private def iso(ms: Long) = java.time.Instant.ofEpochMilli(ms).toString

  /** Build the request's DataFrame; spans name the layer called. PromQL
    * parsing runs on its own only when traced (compile parses again). */
  def build(s: Served, t: Tracer, r: Req): DataFrame = r match {
    case RangeQ(_, q, start, end, step) =>
      if (t.enabled) t.span("promql.parse")(PromQL.parse(q))
      t.span("promql.compile")(PromQL.compileRange(q, s.ctx, start, end, step))
    case InstantQ(q, at) =>
      if (t.enabled) t.span("promql.parse")(PromQL.parse(q))
      t.span("promql.compile")(PromQL.compile(q, s.ctx.copy(evalMs = at)))
    case SelectQ("shard", lo, hi, m) =>
      t.span("shard.select")(ParquetShardStore.select(s.spark, s.st.shard, lo, hi, m))
    case SelectQ(_, lo, hi, m) =>
      t.span("queryable.select")(s.cachedQueryable.select(iso(lo), iso(hi), m))
    case MetaQ("series_converted", _, m) =>
      t.span("queryable.series")(
        s.queryable.selectSeries(iso(T0), iso(T0 + Hours * HourMs), m))
    case MetaQ("series_shard", _, m) =>
      t.span("shard.series")(ParquetShardStore.series(s.spark, s.st.shard, m))
    case MetaQ("label_names", _, m) =>
      t.span("queryable.label_names")(s.queryable.labelNames(m, 0))
    case MetaQ("label_values_dictionary", label, _) =>
      t.span("labels.dictionary_values")(
        DictionaryLabelScan.labelValues(s.spark, s.st.converted, label))
    case MetaQ(_, label, m) =>
      t.span("queryable.label_values")(s.queryable.labelValues(label, m))
  }

  /** Outcome of one timed request: its latency from the call into graft
    * until the result is fully consumed. */
  final case class Done(r: Req, id: String, ms: Double, facts: Option[PlanFacts], ok: Boolean)

  def execute(s: Served, t: Tracer, r: Req, id: String): Done =
    t.request(id) {
      try t.span(s"request.${r.sub}") {
        val t0 = System.nanoTime()
        val df = build(s, t, r)
        val buildNs = System.nanoTime() - t0
        val (ns, f) = t.consume(df)
        Done(r, id, (buildNs + ns) / 1e6, Some(f), f.outputComplete)
      } catch {
        case e: Exception =>
          System.err.println(s"perfbench: request ${r.key} failed: $e")
          Done(r, id, 0.0, None, ok = false)
      }
    }

  /** The timed loop over the seeded sequence from its start: at least two
    * untraced whole blocks (one block's median moved with the seed far
    * more than two blocks'), or in the traced run the ABBA loop over
    * blocks. Returns the untraced and the traced requests.
    */
  private def loop(c: Ctx, s: Served): (Seq[Done], Seq[Done]) = {
    s.cache.clear()
    val reqs = new Requests(c.seed)
    val queue = mutable.Queue.empty[Req]
    val done = mutable.ArrayBuffer.empty[Done]
    def next(i: Int, traced: Boolean): Double = {
      if (queue.isEmpty) queue ++= reqs.block()
      val d = execute(s, c.tracer, queue.dequeue(), s"${if (traced) "t" else "q"}-$i")
      done += d
      d.ms
    }
    if (c.traced) Harness.abbaLoop(c.tracer, c.seconds, BlockSize)(next)
    else Harness.closedLoop(c.seconds, minOps = 2 * BlockSize, batch = BlockSize)(next(_, false))
    done.toSeq.partition(_.id.startsWith("q-"))
  }

  /** Sample count and value sum of a generated or stored table. */
  private def totals(df: DataFrame): (Long, Double) = {
    val r = df.agg(count(lit(1)), sum("value")).head()
    (r.getLong(0), r.getDouble(1))
  }

  private def closeTo(a: (Long, Double), b: (Long, Double)) =
    a._1 == b._1 && math.abs(a._2 - b._2) <= 1e-9 * math.max(math.abs(a._2), math.abs(b._2))

  private def shardTotals(spark: SparkSession, dir: String): (Long, Double) = {
    val m = ParquetShardStore.meta(spark, dir)
    totals(ParquetShardStore.select(spark, dir, m.mintMs, m.maxtMs + 1))
  }

  def run(c: Ctx): Outcome = {
    val spark = c.spark
    // the input: a Prometheus data directory of TSDB blocks
    val blocks = s"${c.work}/blocks"
    val histBlocks = s"${c.work}/hist_blocks"
    Harness.phase("generate") {
      writeBlocks(floats(spark, c.seed, T0, Hours), blocks)
      writeHistBlocks(hists(spark, c.seed, T0, Hours), histBlocks)
    }
    val costs = mutable.ArrayBuffer.empty[IngestCost]
    val (served, setupS, warmupS) = Harness.setups(c.work) { dir =>
      val (st, cost) = ingest(spark, c.tracer, blocks, Some(histBlocks), s"$dir/stores")
      costs += cost
      new Served(spark, st)
    } { s =>
      // one request of each heavier code path, from a stream of its own
      val w = new Requests(c.seed ^ 0x5eedL)
      Seq(w.rangeRaw(0), w.rangeRollup(0), w.instant(1), w.instant(2),
        w.select("converted", 0), w.select("shard", 1))
        .zipWithIndex.foreach { case (r, i) => execute(s, c.tracer, r, s"warmup-$i") }
    }
    val (h0, m0) = (served.cache.hits, served.cache.misses)
    val (plain, traced) = loop(c, served)
    val (layer, compactOk) =
      if (!c.traced) (Nil, true)
      else {
        val lm = layerMetrics(c, served, traced, served.cache.hits - h0, served.cache.misses - m0)
        c.tracer.resume()
        val (cm, ok) = Harness.phase("compaction")(compaction(c, served))
        c.tracer.stop()
        (lm ++ cm, ok)
      }
    // untimed correctness: the stores hold exactly the generated samples
    val ingestOk = Harness.phase("readback") {
      val generated = totals(floats(spark, c.seed, T0, Hours))
      closeTo(totals(served.converted), generated) &&
        closeTo(shardTotals(spark, served.st.shard), generated)
    }
    val checks = Harness.phase("checks")(correctness(c, served, plain)) ++ Seq(
      ("ingest_readback_matches_input", ingestOk, Nil)) ++
      (if (c.traced) Seq(("compaction_readback_matches_input", compactOk, Nil)) else Nil)
    val failedIds = checks.flatMap(_._3).toSet
    val failed = plain.count(d => !d.ok || failedIds(d.r.key))
    val done = plain.filter(_.ok)
    val byKind = (k: String) => done.filter(_.r.kind == k).map(_.ms)
    val range = done.filter(_.r.kind.startsWith("range")).map(_.ms)
    val ingestMetrics = ingestLayers(costs.toSeq, served)
    Outcome(
      attempted = plain.size,
      failed = failed,
      setupS = setupS,
      warmupS = warmupS,
      opMs = done.map(_.ms),
      tracedOpMs = traced.map(_.ms),
      named = Seq(
        "range_ms" -> Stats.summary(range),
        "instant_ms" -> Stats.summary(byKind("instant")),
        "select_ms" -> Stats.summary(byKind("select")),
        "metadata_ms" -> Stats.summary(byKind("metadata")),
        "queries_per_s" -> done.size / (done.map(_.ms).sum / 1000.0),
        "repeat_share" -> (1.0 - done.map(_.r.key).distinct.size.toDouble / done.size),
        "distinct_selects" -> done.filter(_.r.sub == "select_converted").map(_.r.key)
          .distinct.size,
        "cache_entries" -> CacheEntries,
        "ingest_samples_per_s" -> ingestMetrics.toMap.apply("e2e.ingest_samples_per_s"),
        "bytes_per_sample" -> ingestMetrics.toMap.apply("e2e.bytes_per_sample")),
      layer = if (c.traced) layer ++ ingestMetrics ++ classMetrics(done) else Nil,
      shape = shape(served),
      checks = checks.map { case (n, ok, _) => (n, ok) })
  }

  private val IngestedSamples: Long =
    (SeriesPerMetric.toLong * FloatMetrics.size + HistSeries) * Hours * HourMs / ScrapeMs

  /** Write-side layers, from the set-up rounds (median over rounds). */
  private def ingestLayers(costs: Seq[IngestCost], s: Served): Seq[(String, Double)] = {
    def med(f: IngestCost => Double) = Stats.median(costs.map(f))
    val convertedBytes = dirBytes(s.st.converted).toDouble
    Seq(
      "block.read_s" -> med(_.readS),
      "block.bytes_in" -> med(_.blockBytes.toDouble),
      "convert.write_s" -> med(_.convertS),
      "convert.files_out" -> parquetFiles(s.st.converted).size.toDouble,
      "convert.bytes_per_sample" -> convertedBytes / (IngestedSamples - HistSeries.toLong *
        Hours * HourMs / ScrapeMs),
      "shard.write_s" -> med(_.shardS),
      "shard.bytes_per_sample" -> (dirBytes(s.st.shard) + dirBytes(s.st.histShard.get))
        .toDouble / IngestedSamples,
      "rollup.write_s" -> med(_.rollupS),
      "labelindex.write_s" -> med(_.labelIndexS),
      "e2e.ingest_samples_per_s" -> IngestedSamples / med(_.totalS),
      "e2e.bytes_per_sample" -> convertedBytes / (IngestedSamples - HistSeries.toLong *
        Hours * HourMs / ScrapeMs))
  }

  /** Traced run only: compaction of the served layout with a later,
    * overlapping block set (the last [[CompactHours]] again, values
    * shifted so last-writer-wins is visible), through `mergeBlockDirs`
    * and `mergeShards`, with a readback of both merged outputs against
    * the generated input. Returns the compaction layer metrics and
    * whether the readback matched.
    */
  private def compaction(c: Ctx, s: Served): (Seq[(String, Double)], Boolean) = {
    val spark = c.spark
    val t = c.tracer
    val dir = new File(c.work, "compaction")
    val startB = T0 + (Hours - CompactHours) * HourMs
    val b = floats(spark, c.seed, startB, CompactHours, shift = 0.25)
    writeBlocks(b, s"$dir/blocks")
    val (stB, _) = ingest(spark, t, s"$dir/blocks", None, s"$dir/later")
    val merged = s"$dir/merged"
    val mergedShard = s"$dir/merged_shard"
    val (_, mergeS) = timed(t.request("compaction")(t.span("compact.merge") {
      TsdbConverter.mergeBlockDirs(spark, Seq(s.st.converted, stB.converted), merged,
        AllLabels, "ts", "value", ConvertOpts)
    }))
    val (_, shardMergeS) = timed(t.request("compaction")(t.span("shard.merge") {
      ParquetShardStore.mergeShards(spark, Seq(s.st.shard, stB.shard), mergedShard,
        colDurationMs = ShardColMs, shards = 2)
    }))
    val expect = totals(floats(spark, c.seed, T0, Hours).filter(col("ts") < startB)
      .unionByName(b))
    val ok = closeTo(totals(spark.read.parquet(merged)), expect) &&
      closeTo(shardTotals(spark, mergedShard), expect)
    val bytesIn = Seq(s.st.converted, stB.converted, s.st.shard, stB.shard).map(dirBytes).sum
    val samplesIn = SeriesPerMetric.toLong * FloatMetrics.size * (Hours + CompactHours) *
      HourMs / ScrapeMs
    val m = Seq(
      "compact.merge_s" -> mergeS,
      "shard.merge_s" -> shardMergeS,
      "compact.bytes_rewritten_per_byte_in" ->
        (dirBytes(merged) + dirBytes(mergedShard)).toDouble / bytesIn,
      "e2e.compact_samples_per_s" -> samplesIn / (mergeS + shardMergeS))
    Harness.delete(dir)
    (m, ok)
  }

  /** The workload's own end-to-end figures, per request class. */
  private def classMetrics(done: Seq[Done]): Seq[(String, Double)] = {
    def p50(f: Done => Boolean) = Stats.median(done.filter(f).map(_.ms))
    val range = done.filter(_.r.kind.startsWith("range")).map(_.ms)
    Seq(
      "e2e.range_p50_ms" -> Stats.median(range),
      "e2e.instant_p50_ms" -> p50(_.r.kind == "instant"),
      "e2e.select_p50_ms" -> p50(_.r.kind == "select"),
      "e2e.metadata_p50_ms" -> p50(_.r.kind == "metadata"),
      "e2e.queries_per_s" -> done.size / (done.map(_.ms).sum / 1000.0))
  }

  private def shape(s: Served): Seq[(String, Any)] = Seq(
    "hours" -> Hours,
    "scrape_interval_s" -> ScrapeMs / 1000,
    "float_series" -> SeriesPerMetric * FloatMetrics.size,
    "float_samples" -> SeriesPerMetric.toLong * FloatMetrics.size * Hours * HourMs / ScrapeMs,
    "histogram_series" -> HistSeries,
    "histogram_samples" -> HistSeries.toLong * Hours * HourMs / ScrapeMs,
    "distinct_label_values" -> Seq("__name__" -> (FloatMetrics.size + 1),
      "job" -> Jobs.size, "instance" -> Jobs.size * InstancesPerJob,
      "handler" -> Handlers.size),
    "requests_per_block" -> BlockSize,
    "request_mix" -> new Requests(0).block().groupBy(_.sub).toSeq.sortBy(_._1)
      .map { case (k, rs) => k -> rs.size.toDouble / BlockSize },
    "repeat_share" -> RepeatShare,
    "bytes_per_store" -> Seq(
      "converted" -> dirBytes(s.st.converted),
      "shard" -> (dirBytes(s.st.shard) + dirBytes(s.st.histShard.get)),
      "rollup_1h" -> s.st.rollups.values.map(dirBytes).sum,
      "label_index" -> dirBytes(s.st.labelIndex)),
    "files_per_store" -> s.filesIn.toSeq.sortBy(_._1).map { case (p, n) =>
      new File(p).getName -> n })

  /** Correctness, outside the timed loop: rollup-routed range answers
    * equal the raw answers; shard selects equal converted-layout
    * selects; every timed action's executed plan produced every output
    * column. Returns (check, passed, keys of requests it failed).
    */
  private def correctness(c: Ctx, s: Served, done: Seq[Done])
      : Seq[(String, Boolean, Seq[String])] = {
    def distinct(f: Req => Boolean) = done.map(_.r).filter(f).distinctBy(_.key).take(ChecksPerKind)
    def rows(df: DataFrame) = df.collect().toSeq
    val rollupBad = distinct(_.kind == "range_rollup").collect {
      case r @ RangeQ(_, q, a, b, step) if !Harness.sameRows(
          rows(PromQL.compileRange(q, s.ctx, a, b, step)),
          rows(PromQL.compileRange(q, s.ctx.copy(rollups = Map.empty), a, b, step))) => r.key
    }
    val cols = (AllLabels :+ "ts" :+ "value").map(col)
    val shardBad = distinct(_.sub == "select_shard").collect {
      case r @ SelectQ(_, lo, hi, m) if !Harness.sameRows(
          rows(ParquetShardStore.select(s.spark, s.st.shard, lo, hi, m).select(cols: _*)),
          rows(s.queryable.select(iso(lo), iso(hi), m).select(cols: _*))) => r.key
    }
    val incomplete = done.filter(d => d.facts.exists(!_.outputComplete)).map(_.r.key)
    val failedReq = done.filter(!_.ok).map(_.r.key)
    Seq(
      ("range_rollup_equals_raw", rollupBad.isEmpty, rollupBad),
      ("shard_select_equals_converted", shardBad.isEmpty, shardBad),
      ("executed_plan_outputs_every_column", incomplete.isEmpty, incomplete),
      ("requests_succeeded", failedReq.isEmpty, failedReq))
  }

  private def layerMetrics(c: Ctx, s: Served, done: Seq[Done], hits: Long,
      misses: Long): Seq[(String, Double)] = {
    val spans = c.tracer.recordedSpans
    def meanMs(name: String) = Stats.mean(spans.filter(_.name == name).map(_.ms))
    def reqMs(subs: String*) = Stats.mean(done.filter(d => subs.contains(d.r.sub)).map(_.ms))
    val facts = done.flatMap(_.facts)
    val engine = c.tracer.engine
    val perReq = done.map(d => engine.getOrElse(d.id, new EngineCounts))
    def perRequest(f: EngineCounts => Double) = Stats.mean(perReq.map(f))
    val scans = facts.flatMap(_.scans)
    def datasetFiles(sc: ScanFacts) = sc.roots.map { r =>
      s.filesIn.collectFirst { case (p, n) if r.contains(new File(p).toURI.getPath.stripSuffix("/")) => n }
        .getOrElse(0)
    }.sum
    val rollupRoots = s.st.rollups.values.map(p => new File(p).toURI.getPath.stripSuffix("/")).toSeq
    val convertedRoot = new File(s.st.converted).toURI.getPath.stripSuffix("/")
    val rollupReqs = done.filter(_.r.kind == "range_rollup").flatMap(_.facts)
    val served = rollupReqs.count { f =>
      val roots = f.scans.flatMap(_.roots)
      roots.exists(r => rollupRoots.exists(r.contains(_))) && !roots.exists(_.contains(convertedRoot))
    }
    val dictReqs = done.collect { case Done(MetaQ("label_values_dictionary", l, _), _, _, _, _) => l }
    val dictBytes = dictReqs.distinct.map(l =>
      l -> DictionaryLabelScan.dictionaryScanBytes(s.spark, s.st.converted, l)._1).toMap
    Seq(
      "promql.parse_ms" -> meanMs("promql.parse"),
      "promql.compile_ms" -> meanMs("promql.compile"),
      "catalyst.analysis_ms" -> Stats.mean(facts.map(_.analysisMs)),
      "catalyst.optimization_ms" -> Stats.mean(facts.map(_.optimizationMs)),
      "catalyst.planning_ms" -> Stats.mean(facts.map(_.planningMs)),
      "exec.ms" -> meanMs("exec"),
      "spark.jobs" -> perRequest(_.jobs.toDouble),
      "spark.stages" -> perRequest(_.stages.toDouble),
      "spark.tasks" -> perRequest(_.tasks.toDouble),
      "scan.files_read" -> Stats.mean(facts.map(_.scans.map(_.files).sum.toDouble)),
      "scan.bytes_read" -> perRequest(_.inputBytes.toDouble),
      "scan.rows_read" -> Stats.mean(facts.map(_.scans.map(_.rows).sum.toDouble)),
      "scan.files_read_frac" -> scans.map(_.files).sum.toDouble / scans.map(datasetFiles).sum.max(1),
      "scan.rows_returned_per_row_read" -> facts.filter(_.scans.nonEmpty).map(_.rowsReturned).sum
        .toDouble / facts.flatMap(_.scans).map(_.rows).sum.max(1L),
      "queryable.select_ms" -> reqMs("select_converted"),
      "queryable.series_ms" -> reqMs("series_converted"),
      "queryable.label_names_ms" -> reqMs("label_names"),
      "queryable.label_values_ms" -> reqMs("label_values"),
      "labels.dictionary_values_ms" -> reqMs("label_values_dictionary"),
      "labels.dict_bytes_read" -> Stats.mean(dictReqs.map(l => dictBytes(l).toDouble)),
      "cache.hit_frac" -> hits.toDouble / math.max(1L, hits + misses),
      "rollup.served_frac" -> served.toDouble / math.max(1, rollupReqs.size),
      "shard.select_ms" -> reqMs("select_shard"),
      "shard.series_ms" -> reqMs("series_shard"),
      "shard.chunk_bytes_read" -> Stats.mean(done.filter(_.r.sub == "select_shard").flatMap(_.facts)
        .map(_.scans.filter(_.roots.exists(_.endsWith(".chunks.parquet"))).map(_.bytes).sum.toDouble)),
      "spark.executor_run_ms" -> perRequest(_.runMs.toDouble),
      "spark.executor_cpu_ms" -> perRequest(_.cpuNs / 1e6),
      "spark.gc_ms" -> perRequest(_.gcMs.toDouble),
      "spark.shuffle_write_bytes" -> perRequest(_.shuffleWrite.toDouble),
      "spark.shuffle_read_bytes" -> perRequest(_.shuffleRead.toDouble),
      "spark.spill_bytes" -> perRequest(_.spill.toDouble),
      "spark.task_failures" -> perReq.map(_.failures).sum.toDouble,
      "spark.block_store_peak_bytes" -> c.tracer.peakBlockBytes.toDouble)
      .map { case (k, v) => k -> (if (v.isNaN) 0.0 else v) }
  }
}
