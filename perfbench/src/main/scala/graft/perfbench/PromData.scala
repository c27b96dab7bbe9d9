package graft.perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tsdb.{ConvertOptions, LabelIndexStore, RollupStore, TsdbConverter}
import graft.tsdb.block.TsdbBlockStore
import graft.tsdb.shard.ParquetShardStore

/** Seeded Prometheus-shaped series and the ingest path into graft's
  * stores that the `prom_query` workload serves from.
  *
  * Shape (fixed; the seed moves values only): 4 jobs x 3 instances x 5
  * handlers = 60 series for each of a counter and a gauge, scraped
  * every 15 s, plus one native-histogram counter with one series per
  * (job, handler). Every generated value is a pure function of (seed,
  * metric, series, step), so one seed always gives the same samples.
  */
object PromData {
  val Jobs: Seq[String] = Seq("api", "web", "db", "cache")
  val InstancesPerJob = 3
  val Handlers: Seq[String] = Seq("/", "/login", "/search", "/api/v1/query", "/metrics")
  val Counter = "http_requests_total"
  val Gauge = "go_goroutines"
  val Hist = "http_request_duration_seconds"
  val FloatMetrics: Seq[String] = Seq(Counter, Gauge)
  /** Metrics with a 1 h rollup layer: the counter, which rate/increase read. */
  val RolledUp: Seq[String] = Seq(Counter)
  /** Label columns of the stores; `__name__` holds the metric name. */
  val NameCol = "__name__"
  val SeriesLabels: Seq[String] = Seq("job", "instance", "handler")
  val AllLabels: Seq[String] = NameCol +: SeriesLabels
  val ScrapeMs = 15000L
  val HourMs = 3600000L
  /** 2024-01-01T00:00:00Z: every layer's bucket and window grid aligns to it. */
  val T0 = 1704067200000L
  val SeriesPerMetric: Int = Jobs.size * InstancesPerJob * Handlers.size
  val HistSeries: Int = Jobs.size * Handlers.size
  val HistBuckets = 8
  /** Layout grains: converted-layout buckets, shard data columns, rollup windows. */
  val ColDuration = "1 hour"
  val ShardColMs: Long = 2 * HourMs
  val RollupMs: Long = HourMs

  private def uniform(seed: Long, parts: Column*): Column =
    pmod(xxhash64((lit(seed) +: parts): _*), lit(1000003L)).cast("double") / 1000003.0

  private def pick(values: Seq[String], idx: Column): Column =
    element_at(typedLit(values), idx.cast("int") + 1)

  private def labels(job: Column, instance: Column, handler: Column): Seq[Column] = {
    val j = pick(Jobs, job)
    Seq(j.as("job"),
      concat(j, lit("-"), instance.cast("int").cast("string"), lit(":9100")).as("instance"),
      pick(Handlers, handler).as("handler"))
  }

  /** Float samples of both metrics in `[startMs, startMs + hours)`:
    * (`__name__`, job, instance, handler, ts ms, value). `shift` offsets
    * every value, so an overlapping block set can carry different
    * values for the same (series, ts) than the set it overlaps.
    */
  def floats(spark: SparkSession, seed: Long, startMs: Long, hours: Int,
      shift: Double = 0.0): DataFrame = {
    val steps = hours * HourMs / ScrapeMs
    val perMetric = SeriesPerMetric.toLong * steps
    val m = (col("id") / perMetric).cast("int")
    val s = ((col("id") / steps) % SeriesPerMetric).cast("long")
    val k = (col("id") % steps) + (startMs - T0) / ScrapeMs
    val u = uniform(seed, m, s)
    val noise = uniform(seed, m, s, k)
    // counter: monotone (increments stay above half the mean rate);
    // gauge: a seeded sine plus noise around a per-series level
    val rate = lit(1.0) + u * 20.0
    val counterV = round(rate * k * 15.0 + noise * rate * 7.5)
    val gaugeV = lit(50.0) + u * 450.0 + sin(k / 40.0 + u * 6.283) * 30.0 + noise * 5.0
    spark.range(2L * perMetric)
      .select(m.as("m"), s.as("s"), k.as("k"), counterV.as("cv"), gaugeV.as("gv"))
      .select((when(col("m") === 0, lit(Counter)).otherwise(lit(Gauge)).as(NameCol) +:
        labels(col("s") / (InstancesPerJob * Handlers.size),
          (col("s") / Handlers.size) % InstancesPerJob, col("s") % Handlers.size)) ++ Seq(
        (lit(T0) + col("k") * ScrapeMs).as("ts"),
        (when(col("m") === 0, col("cv")).otherwise(col("gv")) + shift).as("value")): _*)
  }

  /** Native-histogram counter samples (schema 0, positive buckets 0..7)
    * in `[startMs, startMs + hours)`: the row model
    * `TsdbBlockStore.writeHist` takes. */
  def hists(spark: SparkSession, seed: Long, startMs: Long, hours: Int): DataFrame = {
    val steps = hours * HourMs / ScrapeMs
    val s = (col("id") / steps).cast("long")
    val k = (col("id") % steps) + (startMs - T0) / ScrapeMs
    val rate = lit(0.5) + uniform(seed, lit(-1L), s) * 4.0
    val counts = (0 until HistBuckets).map { i =>
      floor(rate * k * (15.0 * math.exp(-math.pow(i - 3.5, 2) / 4))).cast("long")
    }
    spark.range(HistSeries.toLong * steps).select(
      (lit(Hist).as(NameCol) +: labels(s / Handlers.size, lit(0), s % Handlers.size)) ++ Seq(
        (lit(T0) + k * ScrapeMs).as("ts"),
        floor(rate * k * 0.5).cast("long").as("zero_count"),
        typedLit((0 until HistBuckets).toArray).as("pos_idx"),
        array(counts: _*).as("pos_counts"),
        counts.zipWithIndex.map { case (c, i) => c * math.pow(2, i - 0.5) }
          .reduce(_ + _).cast("double").as("hist_sum")): _*)
  }

  /** Write float samples as TSDB blocks (2 h each) under `root`. */
  def writeBlocks(df: DataFrame, root: String): Seq[String] =
    TsdbBlockStore.write(df, root, AllLabels, "ts", "value")

  def writeHistBlocks(df: DataFrame, root: String): Seq[String] =
    TsdbBlockStore.writeHist(df, root, AllLabels, "ts", "zero_count",
      "pos_idx", "pos_counts", "hist_sum")

  /** Directories of one ingested block set. */
  final case class Stores(converted: String, shard: String,
      rollups: Map[String, String], labelIndex: String, histShard: Option[String])

  /** Per-store wall time and sizes of one ingest. */
  final case class IngestCost(blockBytes: Long, readS: Double,
      convertS: Double, shardS: Double, rollupS: Double, labelIndexS: Double) {
    def totalS: Double = readS + convertS + shardS + rollupS + labelIndexS
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Data files under `path` (checksums and markers excluded). */
  def files(path: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
      else Seq(f)
    walk(new File(path))
  }

  def dirBytes(path: String): Long = files(path).map(_.length).sum

  def parquetFiles(path: String): Seq[File] =
    files(path).filter(_.getName.endsWith(".parquet"))

  val ConvertOpts: ConvertOptions =
    ConvertOptions(sortBy = AllLabels, colDuration = ColDuration, shards = 2)

  /** The ingest path from TSDB blocks into graft's four stores: block
    * decode (`readLabels`, materialized once so each store write reads
    * decoded samples, and the decode is charged to its own layer) →
    * converted layout (`TsdbConverter.convert`) → reference-format
    * shard (`ParquetShardStore.write`) → a 1 h rollup layer of the counter
    * (`RollupStore.write`) → label index (`LabelIndexStore.write`).
    * A histogram block root, when given, goes to its own shard through
    * `readHistLabels` and `ParquetShardStore.writeHist`.
    */
  def ingest(spark: SparkSession, tracer: Tracer, blocks: String,
      histBlocks: Option[String], out: String): (Stores, IngestCost) = {
    val (raw, readS) = timed(tracer.span("block.read") {
      TsdbBlockStore.readLabels(spark, blocks, AllLabels)
        .withColumn("ts", timestamp_millis(col("ts")))
        .localCheckpoint()
    })
    val st = Stores(s"$out/converted", s"$out/shard",
      RolledUp.map(m => m -> s"$out/rollup_1h/$m").toMap,
      s"$out/label_index", histBlocks.map(_ => s"$out/hist_shard"))
    val (_, convertS) = timed(tracer.span("convert.write") {
      TsdbConverter.convert(raw, st.converted, "ts", ConvertOpts)
    })
    val (_, shardS) = timed(tracer.span("shard.write") {
      ParquetShardStore.write(raw, st.shard, AllLabels, "ts", "value",
        colDurationMs = ShardColMs, shards = 2)
      histBlocks.foreach { hb =>
        val h = TsdbBlockStore.readHistLabels(spark, hb, AllLabels)
          .withColumn("ts", timestamp_millis(col("ts")))
        ParquetShardStore.writeHist(h, st.histShard.get, AllLabels, "ts",
          "zero_count", "pos_idx", "pos_counts", sumCol = Some("hist_sum"),
          colDurationMs = ShardColMs)
      }
    })
    val (_, rollupS) = timed(tracer.span("rollup.write") {
      RolledUp.foreach { m =>
        RollupStore.write(raw.filter(col(NameCol) === m), st.rollups(m),
          SeriesLabels, "ts", "value", RollupMs)
      }
    })
    val (_, labelIndexS) = timed(tracer.span("labelindex.write") {
      LabelIndexStore.write(raw, st.labelIndex, AllLabels, "ts", ColDuration)
    })
    raw.unpersist()
    (st, IngestCost(dirBytes(blocks) + histBlocks.map(dirBytes).getOrElse(0L),
      readS, convertS, shardS, rollupS, labelIndexS))
  }
}
