package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.tsdb.{Matcher, RollupStore}
import graft.tsdb.RollupStore.RollupLayer

/** [[graft.tsdb.RollupStore]]: exactness of the materialized layers,
  * the consecutive-pair decomposition behind stitchedIncrease, and
  * the Thanos step/5 routing rule. The oracle gates (ts_rollup_*)
  * pin the layers against DuckDB on the driver's events table; these
  * specs pin the algebra on crafted reset shapes the synthetic table
  * may not contain — a reset exactly AT a window boundary, one
  * mid-window, and a series confined to a single window.
  */
class RollupStoreSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private val HOUR = 3600000L
  private val DAY = 86400000L

  // one counter series, hourly windows; values chosen so every
  // interesting pair lands somewhere specific:
  //   00:10→00:40 +20 | 00:40→[boundary]→01:05 RESET to 5
  //   01:05→01:20 +3  | 01:20→01:50 RESET to 2
  //   [02:xx empty] 03:30 lone sample, boundary 1:50→3:30 +28
  private lazy val counter = Seq(
    ("a", ts("2024-01-01 00:10:00"), 10.0),
    ("a", ts("2024-01-01 00:40:00"), 30.0),
    ("a", ts("2024-01-01 01:05:00"), 5.0),
    ("a", ts("2024-01-01 01:20:00"), 8.0),
    ("a", ts("2024-01-01 01:50:00"), 2.0),
    ("a", ts("2024-01-01 03:30:00"), 30.0),
    ("b", ts("2024-01-01 00:30:00"), 7.0)
  ).toDF("series", "ts", "value")

  private val base = 1704067200000L // 2024-01-01 00:00:00 UTC

  private def layer(res: Long, tag: String): String = {
    val p = s"/tmp/graft_rollupspec_${tag}_$res"
    RollupStore.write(counter, p, Seq("series"), "ts", "value", res)
    p
  }

  test("per-window columns: reset-aware increase, boundaries, exact sum") {
    val rows = RollupStore.read(spark, layer(HOUR, "cols"))
      .filter(col("series") === "a")
      .orderBy("window_ms")
      .select("window_ms", "n", "first_v", "last_v")
      .as[(Long, Long, Double, Double)].collect.toSeq
    assert(rows == Seq(
      (base, 2L, 10.0, 30.0),
      (base + HOUR, 3L, 5.0, 2.0),
      (base + 3 * HOUR, 1L, 30.0, 30.0)))
    val inc = RollupStore.read(spark, layer(HOUR, "cols"))
      .filter(col("series") === "a").orderBy("window_ms")
      .select(col("increase").cast("double")).as[Double].collect.toSeq
    // w0: +20; w1: +3 then reset→2 (adds 2) = 5; w3: lone sample = 0
    assert(inc == Seq(20.0, 5.0, 0.0))
  }

  test("penultimate samples: per-window pick, NULL on singletons, " +
      "cascade stitches across fine-window seams") {
    // hourly layer: w0 holds 2 samples (prev = the 00:10 one), w1
    // holds 3 (prev = 01:20), the lone 03:30 window and series b are
    // NULL — the batch writer's lag-payload pick
    val hourly = RollupStore.read(spark, layer(HOUR, "prev"))
      .orderBy("series", "window_ms")
      .select("series", "window_ms", "prev_ts_ms", "prev_v")
      .as[(String, Long, Option[Long], Option[Double])].collect.toSeq
    assert(hourly == Seq(
      ("a", base, Some(base + 10 * 60000L), Some(10.0)),
      ("a", base + HOUR, Some(base + 80 * 60000L), Some(8.0)),
      ("a", base + 3 * HOUR, None, None),
      ("b", base, None, None)))
    // daily direct: series a's penultimate is the 01:50 sample
    val daily = RollupStore.read(spark, layer(DAY, "prev"))
      .orderBy("series")
      .select("series", "prev_ts_ms", "prev_v")
      .as[(String, Option[Long], Option[Double])].collect.toSeq
    assert(daily == Seq(
      ("a", Some(base + 110 * 60000L), Some(2.0)),
      ("b", None, None)))
    // cascade day-from-hour: the last fine window (03:xx) holds ONE
    // sample, so the coarse penultimate must come from the PREVIOUS
    // fine window's last sample — the prevOf seam branch; the
    // lone-sample series exercises the NULL branch
    val p = "/tmp/graft_rollupspec_prev_day"
    RollupStore.writeFrom(spark, layer(HOUR, "prev"), p, Seq("series"),
      "ts", fineResolutionMs = HOUR, resolutionMs = DAY)
    val cascaded = RollupStore.read(spark, p)
      .orderBy("series")
      .select("series", "prev_ts_ms", "prev_v")
      .as[(String, Option[Long], Option[Double])].collect.toSeq
    assert(cascaded == daily)
  }

  test("Σv² holds a 240-sample hourly window of a 2.5e9 gauge") {
    // process_resident_memory_bytes scale, one sample every 15 s:
    // each square is ~6.25e18, past a 14-integer-digit accumulator
    val rss = (0 until 240).map(i =>
      ("a", new Timestamp(base + i * 15000L), 2.5e9 + i)).toDF("series", "ts", "value")
    val p = s"/tmp/graft_rollupspec_rss_$HOUR"
    RollupStore.write(rss, p, Seq("series"), "ts", "value", HOUR)
    val vsq = RollupStore.read(spark, p).select("vsq").as[BigDecimal].collect.toSeq
    val exact = (0 until 240).map(i => BigDecimal(2.5e9) + i).map(v => v * v).sum
    assert(vsq == Seq(exact))
  }

  test("stitchedIncrease ≡ the direct raw fold, and is layer-independent") {
    // direct fold over all consecutive pairs of series a:
    // +20, reset→5, +3, reset→2, +28 = 58
    val oneHour = RollupStore.stitchedIncrease(spark, layer(HOUR, "stitch"),
      Seq("series"), base, base + DAY)
    val got = oneHour.filter(col("series") === "a")
      .select("increase").as[Double].head()
    assert(got == 58.0)
    // a single day-window holds the whole series: same answer, no
    // boundary terms at all
    val oneDay = RollupStore.stitchedIncrease(spark, layer(DAY, "stitch"),
      Seq("series"), base, base + DAY)
    assert(oneDay.filter(col("series") === "a")
      .select("increase").as[Double].head() == 58.0)
    // the lone-sample series: zero increase, present in both layers
    assert(oneHour.filter(col("series") === "b")
      .select("increase").as[Double].head() == 0.0)
  }

  test("matchers push into the rollup select") {
    val sel = RollupStore.select(spark, layer(HOUR, "match"),
      base, base + DAY, Seq(Matcher.Eq("series", "b")))
    assert(sel.select("series").distinct.as[String].collect.toSeq == Seq("b"))
  }

  test("route: coarsest layer with resolution*5 <= step, else None") {
    val layers = Seq(RollupLayer("h", HOUR), RollupLayer("d", DAY))
    assert(RollupStore.route(layers, 5 * HOUR).map(_.path) == Some("h"))
    assert(RollupStore.route(layers, 5 * HOUR - 1).isEmpty)
    assert(RollupStore.route(layers, 5 * DAY).map(_.path) == Some("d"))
    assert(RollupStore.route(layers, 4 * DAY).map(_.path) == Some("h"))
  }

  test("cascade writeFrom ≡ direct raw build, every column bitwise") {
    // the crafted series puts a reset exactly ON a fine-window seam
    // (00:40→01:05), one mid-window (01:20→01:50), an empty fine
    // window (02:xx) and a lone-sample series — the shapes that
    // break a naive cascade
    val fine = layer(HOUR, "casc")
    val p = "/tmp/graft_rollupspec_casc_day"
    RollupStore.writeFrom(spark, fine, p, Seq("series"), "ts",
      fineResolutionMs = HOUR, resolutionMs = DAY)
    val cols = Seq("series", "window_ms", "n", "vsum", "vmin", "vmax",
      "first_ts_ms", "first_v", "last_ts_ms", "last_v",
      "prev_ts_ms", "prev_v", "vmin_ts_ms", "vmax_nn", "vmax_ts_ms",
      "increase",
      "resets", "changes", "vsq", "sx", "sxx", "sxy")
    def rows(path: String) = RollupStore.read(spark, path)
      .select(cols.map(col): _*).orderBy("series", "window_ms")
      .collect.toSeq
    assert(rows(p) == rows(layer(DAY, "casc")))
  }

  test("two-hop cascade (1h→2h→1d) ≡ direct — composition associates") {
    val fine = layer(HOUR, "casc2")
    val mid = "/tmp/graft_rollupspec_casc2_mid"
    RollupStore.writeFrom(spark, fine, mid, Seq("series"), "ts",
      fineResolutionMs = HOUR, resolutionMs = 2 * HOUR)
    val p = "/tmp/graft_rollupspec_casc2_day"
    RollupStore.writeFrom(spark, mid, p, Seq("series"), "ts",
      fineResolutionMs = 2 * HOUR, resolutionMs = DAY)
    val cols = Seq("series", "window_ms", "n", "vsum", "vmin", "vmax",
      "first_ts_ms", "first_v", "last_ts_ms", "last_v",
      "prev_ts_ms", "prev_v", "vmin_ts_ms", "vmax_nn", "vmax_ts_ms",
      "increase",
      "resets", "changes", "vsq", "sx", "sxx", "sxy")
    def rows(path: String) = RollupStore.read(spark, path)
      .select(cols.map(col): _*).orderBy("series", "window_ms")
      .collect.toSeq
    assert(rows(p) == rows(layer(DAY, "casc2")))
  }

  test("cascade ≡ direct under NaN samples (Spark NaN ordering, NaN==NaN changes rule)") {
    // NaN mid-window and NaN as a window's boundary sample: Spark
    // orders NaN above every double (max picks it, min never does),
    // `=!=` treats NaN==NaN as equal (no phantom change), and the
    // NaN→decimal cast nulls out of the exact sums — the cascade
    // must reproduce ALL of it bitwise, whatever the semantics
    val nan = Double.NaN
    val d = Seq(
      ("n", ts("2024-01-01 00:10:00"), 1.0),
      ("n", ts("2024-01-01 00:40:00"), nan),
      ("n", ts("2024-01-01 01:05:00"), nan),
      ("n", ts("2024-01-01 01:20:00"), 4.0),
      ("n", ts("2024-01-01 03:30:00"), 2.0),
      // an ENTIRELY-NaN fine window (00:xx) ahead of a mixed one:
      // its NaN-demoted max is NaN (ok=0), and the cascade's
      // cross-window argmax must let the later real value win
      ("z", ts("2024-01-01 00:30:00"), nan),
      ("z", ts("2024-01-01 02:10:00"), nan),
      ("z", ts("2024-01-01 02:40:00"), 7.0)
    ).toDF("series", "ts", "value")
    val fine = "/tmp/graft_rollupspec_nan_h"
    RollupStore.write(d, fine, Seq("series"), "ts", "value", HOUR)
    val casc = "/tmp/graft_rollupspec_nan_casc"
    RollupStore.writeFrom(spark, fine, casc, Seq("series"), "ts",
      fineResolutionMs = HOUR, resolutionMs = DAY)
    val direct = "/tmp/graft_rollupspec_nan_d"
    RollupStore.write(d, direct, Seq("series"), "ts", "value", DAY)
    // Row equality can't compare NaN (NaN != NaN); canonicalize
    def rows(p: String) = RollupStore.read(spark, p)
      .drop("ts", "bucket").orderBy("series", "window_ms")
      .collect.toSeq.map(_.toSeq.map {
        case x: Double if x.isNaN => "NaN"
        case x => x
      })
    assert(rows(casc) == rows(direct))
    // pin the absolute counts so the rule can't drift: the NaN→NaN
    // step is NOT a change (Spark NaN==NaN); NaN is GREATER than any
    // value, so value-after-NaN (NaN→4.0) reads as a decrease and
    // resets, as does 4.0→2.0 — resets=2; 1.0→NaN, NaN→4.0 and
    // 4.0→2.0 are the three changes
    val cnts = RollupStore.read(spark, direct)
      .filter(col("series") === "n")
      .select("resets", "changes").as[(Long, Long)].head()
    assert(cnts == ((2L, 3L)))
    // the NaN-demoted argmax: the all-NaN window keeps NaN (ok=0,
    // latest ts), while the day grain lets the 02:40 real 7.0 win —
    // even though plain vmax at day grain is NaN (Spark orders NaN
    // above every double)
    val z = RollupStore.read(spark, direct)
      .filter(col("series") === "z")
      .select("vmax", "vmax_nn", "vmax_ts_ms")
      .as[(Double, Double, Long)].head()
    assert(z._1.isNaN && z._2 == 7.0 &&
      z._3 == base + 160 * 60000L)
    val z0 = RollupStore.read(spark, fine)
      .filter(col("series") === "z" && col("window_ms") === base)
      .select("vmax_nn", "vmax_ts_ms").as[(Double, Long)].head()
    assert(z0._1.isNaN && z0._2 == base + 30 * 60000L)
    // the stitched fold must null-SKIP the NaN seam delta exactly
    // like the raw fold's sum() does (pre-fix it null-poisoned):
    // 0 (w0: 1.0→NaN) + seam NaN→NaN (skip) + 4 (w1: NaN→4.0)
    // + seam reset 4.0→2.0 (+2) = 6
    val inc = RollupStore.stitchedIncrease(spark, fine, Seq("series"),
        base, base + DAY)
      .filter(col("series") === "n")
      .select("increase").as[Double].head()
    assert(inc == 6.0)
  }

  test("cascade rejects a coarse resolution fine windows would straddle") {
    intercept[IllegalArgumentException] {
      RollupStore.writeFrom(spark, layer(HOUR, "cascbad"), "/tmp/never",
        Seq("series"), "ts", fineResolutionMs = HOUR,
        resolutionMs = 90 * 60000L)
    }
    intercept[IllegalArgumentException] {
      RollupStore.writeFrom(spark, layer(HOUR, "cascbad"), "/tmp/never",
        Seq("series"), "ts", fineResolutionMs = HOUR, resolutionMs = HOUR)
    }
  }

  test("downsampleAt: exact count/avg/min/max from the routed layer") {
    val layers = Seq(RollupLayer(layer(HOUR, "ds"), HOUR))
    val out = RollupStore.downsampleAt(spark, layers, Seq("series"),
        stepMs = 12 * HOUR, mintMs = base, maxtMs = base + DAY)
      .filter(col("series") === "a")
      .select("n", "avg_v", "min_v", "max_v")
      .as[(Long, Double, Double, Double)].head()
    // all 6 samples of series a land in the first 12h step
    assert(out == ((6L, (10.0 + 30 + 5 + 8 + 2 + 30) / 6, 2.0, 30.0)))
    intercept[IllegalArgumentException] {
      RollupStore.downsampleAt(spark, layers, Seq("series"),
        stepMs = 4 * HOUR, mintMs = base, maxtMs = base + DAY)
    }
  }
}
