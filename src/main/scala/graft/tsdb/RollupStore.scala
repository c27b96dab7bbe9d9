package graft.tsdb

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Materialized downsampled rollup layers over a long-format series
  * table — the long-range-query lever the raw layout cannot provide
  * at 100 TB: a 30-day dashboard query over 15-second scrapes reads
  * ~1/240th the bytes from a 1-hour rollup layer, and the layers are
  * EXACT, not approximate (see the invariants below).
  *
  * The reference stores raw chunks only (schema/encoder.go); its
  * deployments layer downsampling on top (the Thanos compactor's 5m/
  * 1h aggr chunks — docs/components/compact.md, public design). This
  * module is that idea re-expressed as Spark batch materialization:
  * one window pass + one aggregation per layer at write time, plain
  * parquet scans at query time, no custom iterator machinery.
  *
  * Per (series, window) the layer stores:
  *   - `n`, `vmin`, `vmax`            — count/min/max, trivially exact
  *   - `vsum` DECIMAL(30,8)           — the house exact accumulator:
  *     each raw double quantized once at 8 dp, summed losslessly, so
  *     any regrouping of windows (coarser steps, cross-layer checks)
  *     reproduces the direct raw-scan sum BITWISE after one final
  *     decimal→double conversion — rollup results are
  *     layer-independent, which is what makes the router free to
  *     choose resolution by cost alone
  *   - `first_ts_ms`/`first_v`, `last_ts_ms`/`last_v` — the window's
  *     boundary samples (deterministic (ts, value) tiebreak)
  *   - `prev_ts_ms`/`prev_v` — the PENULTIMATE sample (NULL when the
  *     window holds a single sample): together with the boundary
  *     samples this reconstructs "the last two samples of any
  *     window-aligned range" exactly — the whole input of PromQL's
  *     `irate`/`idelta` (promql/functions.go instantValue) — so the
  *     front-end can serve instant-rate dashboards over long ranges
  *     from layer rows. (The last two samples of a range are the last
  *     window's last+penultimate when it holds ≥2 samples, else its
  *     last plus the previous window's last.)
  *   - `vmin_ts_ms`, `vmax_nn`/`vmax_ts_ms` — the ARGMIN/ARGMAX
  *     timestamps under PromQL's `ts_of_min/max_over_time` tie rules
  *     (latest sample among tied extrema; for max, NaN demoted below
  *     every real value — `vmax_nn` is that NaN-demoted max, which
  *     differs from `vmax` exactly when a window mixes NaN with real
  *     values). Extremum-of-struct is associative, so the per-window
  *     pairs compose across any window-aligned range into the raw
  *     argmin/argmax exactly.
  *   - `increase` DECIMAL(30,8)       — the within-window counter
  *     increase under Prometheus reset semantics (a decrease between
  *     adjacent samples restarts accumulation at the new value).
  *     Because consecutive-pair deltas partition exactly into
  *     within-window pairs plus window-boundary pairs, the range
  *     increase over ANY window-aligned span reassembles exactly:
  *     Σ window.increase + Σ boundary terms from (last_v, next
  *     first_v) — see [[stitchedIncrease]].
  *
  * Scale shape: the write is one lag-window pass partitioned by
  * (series, window) — state is a single previous sample, the sort is
  * within natural scrape order — followed by one partial-aggregating
  * shuffle to (series, window) grain, then the bucketed sorted write
  * [[TsdbConverter.convert]] uses for every layout (time-bucket
  * directory pruning + label-sorted row groups). Query-side reads
  * prune to the window range's buckets and push matchers into the
  * scan; [[stitchedIncrease]] is ONE series-keyed aggregation whose
  * buffer is bounded by windows-in-range (720 for 30d @ 1h), never
  * corpus size.
  */
object RollupStore {

  private val D = "decimal(30,8)"

  /** Materialize one rollup layer at `resolutionMs` window width.
    *
    * `tieBreak` columns order samples within equal timestamps (the
    * raw `valueCol` is always appended last) so the lag deltas and
    * boundary samples are deterministic under any partitioning — the
    * same discipline as [[PromOps.extrapolatedRateAt]].
    *
    * Beyond the headline columns the layer stores the exact moment
    * sums the remaining range functions reconstruct from:
    *   - `vsq` DECIMAL(38,16) — Σ v² with v quantized at 8 dp (the
    *     identical [[PromOps.sumSq]] accumulation
    *     [[PromOps.stdvarOverTime]] runs), so
    *     routed `stddev/stdvar_over_time` recompute the same
    *     (n·Σv² − (Σv)²)/n² closed form from equal decimals;
    *   - `sx`/`sxx`/`sxy` — the regression sums Σx, Σx², Σx·v with
    *     x = WINDOW-RELATIVE integer milliseconds (t − window_ms):
    *     relative x keeps every stored magnitude bounded by the
    *     resolution, and any query-time origin o shifts exactly by
    *     δ = window_ms − o (Σ(x+δ) = Σx + nδ; Σ(x+δ)² = Σx² + 2δΣx
    *     + nδ²; Σ(x+δ)v = Σxv + δΣv — all integer/decimal-exact),
    *     so routed `deriv`/`predict_linear` rebuild
    *     [[PromOps]]'s regression sums bitwise for any origin.
    */
  def write(df: DataFrame, path: String, seriesCols: Seq[String],
      tsCol: String, valueCol: String, resolutionMs: Long,
      tieBreak: Seq[String] = Nil,
      opts: ConvertOptions = ConvertOptions(Nil)): Unit = {
    require(resolutionMs > 0, s"resolution must be positive, got $resolutionMs")
    val v = col(valueCol)
    val order = (col(tsCol) +: tieBreak.map(col)) :+ v
    val w = Window
      .partitionBy((seriesCols.map(col) :+ col("_win")): _*)
      .orderBy(order: _*)
    // boundary-sample pick keyed on the FULL-RESOLUTION ts (+ the
    // same tiebreak as the lag order), ms only carried as payload
    val sampleKey = (c: Column) => struct(order :+
      unix_millis(col(tsCol).cast("timestamp")).as("_ms") :+ c.as("_v"): _*)
    // the last-sample pick additionally carries its LAG pair as
    // payload — the winning (max-key) row's previous sample IS the
    // window's penultimate sample under the same deterministic order
    val lastKey = struct(order :+
      unix_millis(col(tsCol).cast("timestamp")).as("_ms") :+ v.as("_v") :+
      col("_prev_ms").as("_pms") :+ col("_prev").as("_pv"): _*)
    val rolled = df
      .withColumn("_win",
        (floor(unix_millis(col(tsCol).cast("timestamp")) / resolutionMs) *
          resolutionMs).cast("long"))
      .withColumn("_prev", lag(v, 1).over(w))
      .withColumn("_prev_ms",
        lag(unix_millis(col(tsCol).cast("timestamp")), 1).over(w))
      .withColumn("_delta",
        when(col("_prev").isNull, lit(0.0))
          .when(v >= col("_prev"), v - col("_prev"))
          .otherwise(v)) // counter reset: restart at the new value
      // PromQL resets()/changes() pair predicates, stored per window
      // so the routed functions reassemble exactly (same consecutive-
      // pair decomposition as `increase`). `=!=` keeps Spark's
      // NaN==NaN convention — the one upstream changes() uses (a
      // NaN→NaN step is NOT a change).
      .withColumn("_reset",
        when(col("_prev").isNotNull && v < col("_prev"), 1L).otherwise(0L))
      .withColumn("_chg",
        when(col("_prev").isNotNull && v =!= col("_prev"), 1L).otherwise(0L))
      .withColumn("_y18", v.cast("decimal(18,8)"))
      .withColumn("_xw",
        (unix_millis(col(tsCol).cast("timestamp")) - col("_win"))
          .cast("decimal(12,0)"))
      .groupBy((seriesCols.map(col) :+ col("_win").as("window_ms")): _*)
      .agg(
        count(lit(1)).as("n"),
        sum(v.cast(D)).cast(D).as("vsum"),
        min(v).as("vmin"),
        max(v).as("vmax"),
        min(sampleKey(v)).as("_f"),
        max(lastKey).as("_l"),
        // argmin/argmax under the ts_of_* tie rules: latest ts among
        // tied minima (the negated-ts trick); for max the not-NaN
        // flag demotes NaN below every real value, then latest ts
        min(struct(v.as("_v"),
          (-unix_millis(col(tsCol).cast("timestamp"))).as("_nts")))
          .as("_mn"),
        max(struct(when(isnan(v), lit(0)).otherwise(lit(1)).as("_ok"),
          v.as("_v"),
          unix_millis(col(tsCol).cast("timestamp")).as("_ts"))).as("_mx"),
        sum(col("_delta").cast(D)).cast(D).as("increase"),
        sum(col("_reset")).as("resets"),
        sum(col("_chg")).as("changes"),
        PromOps.sumSq(col("_y18")).as("vsq"),
        sum(col("_xw")).cast("decimal(20,0)").as("sx"),
        sum((col("_xw") * col("_xw")).cast("decimal(25,0)"))
          .cast("decimal(30,0)").as("sxx"),
        sum((col("_xw") * col("_y18")).cast("decimal(31,8)"))
          .cast("decimal(33,8)").as("sxy"))
      .select((seriesCols.map(col) :+ col("window_ms") :+ col("n") :+
        col("vsum") :+ col("vmin") :+ col("vmax") :+
        col("_f._ms").as("first_ts_ms") :+ col("_f._v").as("first_v") :+
        col("_l._ms").as("last_ts_ms") :+ col("_l._v").as("last_v") :+
        col("_l._pms").as("prev_ts_ms") :+ col("_l._pv").as("prev_v") :+
        (-col("_mn._nts")).as("vmin_ts_ms") :+
        col("_mx._v").as("vmax_nn") :+ col("_mx._ts").as("vmax_ts_ms") :+
        col("increase") :+ col("resets") :+ col("changes") :+
        col("vsq") :+ col("sx") :+ col("sxx") :+ col("sxy") :+
        timestamp_millis(col("window_ms")).as(tsCol)): _*)
    TsdbConverter.convert(rolled, path, tsCol,
      if (opts.sortBy.nonEmpty) opts else opts.copy(sortBy = seriesCols))
  }

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Build a COARSER rollup layer from a finer one — the layer
    * cascade (Thanos compact builds 1h aggr chunks from the 5m ones,
    * never rescanning raw; docs/components/compact.md). At 100 TB
    * this is the only sane maintenance shape: the 1h build reads the
    * 5m layer (~1/20th of raw at 15 s scrapes), and every coarser
    * layer gets cheaper still.
    *
    * The cascade is EXACT — bitwise the layer a direct raw build
    * produces — because every stored column composes losslessly:
    * `n`/`vmin`/`vmax` trivially; `vsum` is the order-exact decimal
    * accumulator; the boundary samples of the coarse window are the
    * first/last of its earliest/latest nonempty fine windows (fine
    * windows partition time, so no cross-window ties exist); and
    * `increase`/`resets`/`changes` obey the consecutive-pair
    * decomposition — pairs within the coarse window = pairs within
    * fine windows + one boundary pair per interior seam, each
    * boundary term the identical IEEE double the raw lag fold
    * computes, decimal-accumulated. [[CascadeSpec]] pins
    * cascade ≡ direct on collected rows; the `ts_rollup_cascade`
    * gate pins cascade ≡ the raw-fold DuckDB oracle.
    *
    * One narrow map + one partial-aggregating shuffle at coarse
    * (series, window) grain; the fold buffer holds fine-windows-per-
    * coarse-window structs (24 for 1h→1d), never corpus size.
    */
  def writeFrom(spark: SparkSession, finePath: String, path: String,
      seriesCols: Seq[String], tsCol: String, fineResolutionMs: Long,
      resolutionMs: Long, opts: ConvertOptions = ConvertOptions(Nil)): Unit = {
    require(fineResolutionMs > 0 && resolutionMs > fineResolutionMs,
      s"coarse resolution $resolutionMs must exceed fine $fineResolutionMs")
    require(resolutionMs % fineResolutionMs == 0,
      s"coarse resolution $resolutionMs must be a multiple of " +
        s"$fineResolutionMs or fine windows would straddle coarse seams")
    val fine = read(spark, finePath)
    // fine-window offset inside its coarse window: the exact shift
    // for the window-relative regression sums (see write's doc)
    val dw = (col("window_ms") - col("_cw")).cast("decimal(12,0)")
    val rolled = fine
      .withColumn("_cw",
        (floor(col("window_ms") / resolutionMs) * resolutionMs).cast("long"))
      .groupBy((seriesCols.map(col) :+ col("_cw")): _*)
      .agg(
        sum(col("n")).as("n"),
        sum(col("vsum")).cast(D).as("vsum"),
        min(col("vmin")).as("vmin"),
        max(col("vmax")).as("vmax"),
        min(struct(col("window_ms"), col("first_ts_ms"), col("first_v")))
          .as("_f"),
        max(struct(col("window_ms"), col("last_ts_ms"), col("last_v")))
          .as("_l"),
        // extremum-of-struct is associative: folding the per-window
        // argmin/argmax pairs under the same tie keys IS the raw fold
        min(struct(col("vmin").as("_v"), (-col("vmin_ts_ms")).as("_nts")))
          .as("_mn"),
        max(struct(when(isnan(col("vmax_nn")), lit(0)).otherwise(lit(1))
          .as("_ok"), col("vmax_nn").as("_v"),
          col("vmax_ts_ms").as("_ts"))).as("_mx"),
        sort_array(collect_list(windowStruct)).as("_w"),
        sum(col("vsq")).as("vsq"),
        sum(col("sx") + col("n") * dw).cast("decimal(20,0)").as("sx"),
        sum(col("sxx") + lit(2) * dw * col("sx") + col("n") * dw * dw)
          .cast("decimal(30,0)").as("sxx"),
        sum(col("sxy") + dw * col("vsum").cast("decimal(21,8)"))
          .cast("decimal(33,8)").as("sxy"))
      .withColumn("_rc", countsFold(col("_w")))
      .select((seriesCols.map(col) :+ col("_cw").as("window_ms") :+
        col("n") :+ col("vsum") :+ col("vmin") :+ col("vmax") :+
        col("_f.first_ts_ms").as("first_ts_ms") :+
        col("_f.first_v").as("first_v") :+
        col("_l.last_ts_ms").as("last_ts_ms") :+
        col("_l.last_v").as("last_v") :+
        prevOf(col("_w")).getField("_pms").as("prev_ts_ms") :+
        prevOf(col("_w")).getField("_pv").as("prev_v") :+
        (-col("_mn._nts")).as("vmin_ts_ms") :+
        col("_mx._v").as("vmax_nn") :+ col("_mx._ts").as("vmax_ts_ms") :+
        increaseFoldDec(col("_w")).as("increase") :+
        col("_rc.r").as("resets") :+ col("_rc.c").as("changes") :+
        col("vsq") :+ col("sx") :+ col("sxx") :+ col("sxy") :+
        timestamp_millis(col("_cw")).as(tsCol)): _*)
    TsdbConverter.convert(rolled, path, tsCol,
      if (opts.sortBy.nonEmpty) opts else opts.copy(sortBy = seriesCols))
  }

  /** Rollup rows whose window lies in `[mintMs, maxtMs)`, matcher
    * predicates pushed into the scan and the time range turned into
    * a LITERAL filter on the layer's bucket partition column so
    * whole day-directories prune before any file is opened.
    */
  def select(spark: SparkSession, path: String, mintMs: Long, maxtMs: Long,
      matchers: Seq[Matcher] = Nil,
      bucketDuration: String = "1 day"): DataFrame = {
    require(maxtMs > mintMs, s"empty range [$mintMs, $maxtMs)")
    val width = TsdbConverter.durationSeconds(bucketDuration) * 1000L
    val pred = matchers.flatMap(_.toPredicate)
      .reduceOption(_ && _).getOrElse(lit(true))
    read(spark, path)
      .filter(col("bucket").between(mintMs / width, (maxtMs - 1) / width))
      .filter(col("window_ms") >= mintMs && col("window_ms") < maxtMs)
      .filter(pred)
  }

  /** Counter increase over the window-aligned range `[mintMs,
    * maxtMs)` reassembled from a rollup layer: per series, the
    * ordered windows fold as Σ within-window `increase` plus the
    * reset-aware boundary term between each window's `last_v` and
    * the next window's `first_v` — exactly the consecutive-pair
    * decomposition, so the result equals the same fold over raw
    * samples BITWISE (every term is the identical IEEE double
    * quantized once at 8 dp; the decimal accumulation is
    * order-exact).
    *
    * One aggregation at series grain; the collect_list buffer holds
    * one small struct per window in range (range/resolution entries
    * — 720 for 30 d @ 1 h), independent of corpus size.
    */
  def stitchedIncrease(spark: SparkSession, path: String,
      seriesCols: Seq[String], mintMs: Long, maxtMs: Long,
      matchers: Seq[Matcher] = Nil): DataFrame = {
    val rows = select(spark, path, mintMs, maxtMs, matchers)
    rows.groupBy(seriesCols.map(col): _*)
      .agg(sort_array(collect_list(windowStruct)).as("_w"),
        count(lit(1)).as("windows"))
      .withColumn("increase", increaseFold(col("_w")))
      .select((seriesCols.map(col) :+ col("increase") :+ col("windows")): _*)
  }

  /** The window payload every stitch fold consumes — collect with
    * `sort_array(collect_list(windowStruct))` so the fold walks
    * windows in time order. (window_ms leads, so the sort key is the
    * window start; the trailing fields are payload — every stored
    * window is non-empty, so windows never tie within a series.)
    */
  def windowStruct: Column = struct(col("window_ms"), col("first_v"),
    col("last_v"), col("increase"), col("resets"), col("changes"),
    col("n"), col("last_ts_ms"), col("prev_ts_ms"), col("prev_v"))

  /** The coarse window's penultimate sample from its sorted fine
    * windows: the last fine window's own penultimate when it holds
    * ≥2 samples, else the second-to-last fine window's last sample
    * (every stored window is non-empty), else NULL — exactly the
    * second-from-the-end of the concatenated sample sequence. Struct
    * of `_pms`/`_pv`.
    */
  def prevOf(wins: Column): Column = {
    val lw = element_at(wins, size(wins))
    val pw = element_at(wins, size(wins) - 1) // guarded below
    when(lw.getField("n") >= 2,
      struct(lw.getField("prev_ts_ms").as("_pms"),
        lw.getField("prev_v").as("_pv")))
      .when(size(wins) >= 2,
        struct(pw.getField("last_ts_ms").as("_pms"),
          pw.getField("last_v").as("_pv")))
      .otherwise(struct(lit(null).cast("long").as("_pms"),
        lit(null).cast("double").as("_pv")))
  }

  /** The stitched-increase fold over a sorted [[windowStruct]]
    * array: Σ within-window `increase` + the reset-aware boundary
    * term per seam, decimal-accumulated, one final double cast.
    */
  def increaseFold(wins: Column): Column =
    increaseFoldDec(wins).cast("double")

  /** [[increaseFold]] keeping the exact decimal accumulator — what
    * the cascade ([[writeFrom]]) stores so coarser layers stay
    * bitwise-exact instead of re-quantizing a double.
    *
    * The boundary term is coalesced to 0: a NaN-valued sample makes
    * the seam delta NaN, whose decimal cast is NULL — the raw lag
    * fold's `sum()` SKIPS that null, so the fold must too, or one
    * NaN sample null-poisons the whole accumulator through `+`
    * (found by the NaN cascade spec; same rule as the within-window
    * `sum(_delta)` in [[write]]).
    */
  def increaseFoldDec(wins: Column): Column =
    aggregate(wins,
      struct(lit(null).cast("double").as("prev"),
        lit(0).cast(D).as("acc")),
      (s, x) => struct(
        x.getField("last_v").as("prev"),
        (s.getField("acc") + x.getField("increase") +
          coalesce(
            when(s.getField("prev").isNull, lit(0.0))
              .when(x.getField("first_v") >= s.getField("prev"),
                x.getField("first_v") - s.getField("prev"))
              .otherwise(x.getField("first_v"))
              .cast(D),
            lit(0).cast(D))).cast(D).as("acc")),
      s => s.getField("acc").cast(D))

  /** The stitched resets/changes fold over a sorted [[windowStruct]]
    * array: Σ within-window counts + one boundary comparison per
    * seam. Returns struct(r, c) as longs.
    */
  def countsFold(wins: Column): Column =
    aggregate(wins,
      struct(lit(null).cast("double").as("prev"),
        lit(0L).as("r"), lit(0L).as("c")),
      (s, x) => struct(
        x.getField("last_v").as("prev"),
        (s.getField("r") + x.getField("resets") +
          when(s.getField("prev").isNotNull &&
            x.getField("first_v") < s.getField("prev"), 1L)
            .otherwise(0L)).as("r"),
        (s.getField("c") + x.getField("changes") +
          when(s.getField("prev").isNotNull &&
            x.getField("first_v") =!= s.getField("prev"), 1L)
            .otherwise(0L)).as("c")))

  /** PromQL `resets()`/`changes()` over the window-aligned range,
    * reassembled from a rollup layer by the same consecutive-pair
    * decomposition as [[stitchedIncrease]]: Σ within-window counts +
    * one boundary comparison per window seam. Exact — the pair set
    * is identical to the raw fold's.
    */
  def stitchedCounts(spark: SparkSession, path: String,
      seriesCols: Seq[String], mintMs: Long, maxtMs: Long,
      matchers: Seq[Matcher] = Nil): DataFrame =
    select(spark, path, mintMs, maxtMs, matchers)
      .groupBy(seriesCols.map(col): _*)
      .agg(sort_array(collect_list(windowStruct)).as("_w"))
      .withColumn("_acc", countsFold(col("_w")))
      .select((seriesCols.map(col) :+ col("_acc.r").as("resets") :+
        col("_acc.c").as("changes")): _*)

  /** One materialized layer: its storage path and window width. */
  final case class RollupLayer(path: String, resolutionMs: Long)

  /** Thanos's auto-downsampling selection rule (docs/components/
    * query.md: use a resolution ≤ step/5 so every step still
    * aggregates ≥5 windows): the COARSEST eligible layer, or None
    * when even the finest layer is too coarse — the caller then
    * scans raw. Pure cost routing: the exact-rollup invariants make
    * every eligible layer return identical answers, so resolution
    * choice affects bytes read, never results.
    */
  def route(layers: Seq[RollupLayer], stepMs: Long): Option[RollupLayer] =
    layers.filter(l => l.resolutionMs * 5 <= stepMs)
      .sortBy(-_.resolutionMs).headOption

  /** Step-bucketed aggregates over `[mintMs, maxtMs)` served from
    * the routed layer: per (`by` labels, step window) the exact
    * count / decimal-exact average / min / max reassembled from the
    * layer's per-window columns. Returns the finest-layer answer
    * routed purely by cost; `route` returning None raises — the
    * caller owns the raw fallback (it needs the raw table, which
    * this store does not hold).
    */
  def downsampleAt(spark: SparkSession, layers: Seq[RollupLayer],
      by: Seq[String], stepMs: Long, mintMs: Long, maxtMs: Long,
      matchers: Seq[Matcher] = Nil): DataFrame = {
    val layer = route(layers, stepMs).getOrElse(
      throw new IllegalArgumentException(
        s"no layer eligible at step $stepMs ms — scan raw instead"))
    require(stepMs % layer.resolutionMs == 0,
      s"step $stepMs not aligned to layer resolution ${layer.resolutionMs}")
    select(spark, layer.path, mintMs, maxtMs, matchers)
      .withColumn("step_ms",
        (floor(col("window_ms") / stepMs) * stepMs).cast("long"))
      .groupBy((by.map(col) :+ col("step_ms")): _*)
      .agg(
        sum(col("n")).as("n"),
        (sum(col("vsum")).cast("double") / sum(col("n"))).as("avg_v"),
        min(col("vmin")).as("min_v"),
        max(col("vmax")).as("max_v"))
  }
}
