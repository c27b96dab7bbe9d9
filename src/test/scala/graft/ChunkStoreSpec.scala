package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.tsdb.{ChunkStore, Matcher}

class ChunkStoreSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val eventsDF = {
    val rnd = new scala.util.Random(42)
    val rows = for {
      et <- Seq("click", "view", "purchase")
      u <- 1L to 20L
      i <- 0 until 50
    } yield (et, u,
      new Timestamp(ts("2024-01-01 00:00:00").getTime +
        i * 3600000L + rnd.nextInt(60000)),
      rnd.nextDouble() * 100)
    rows.toDF("event_type", "user_id", "ts", "value")
  }

  private lazy val blockPath = {
    val p = Files.createTempDirectory("graft_chunkstore").toString
    ChunkStore.write(eventsDF, p, Seq("event_type", "user_id"),
      "ts", "value", samplesPerChunk = 16)
    p
  }

  test("full-range select over the chunked block ≡ the raw table") {
    val back = ChunkStore.select(spark, blockPath,
        "2024-01-01 00:00:00", "2024-02-01 00:00:00", Nil,
        Seq("event_type", "user_id"), "ts", "value")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getTimestamp(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2, t._3.getTime, t._4))
    val raw = eventsDF.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getTimestamp(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2, t._3.getTime, t._4))
    assert(back.length == raw.length)
    assert(back.sameElements(raw)) // µs timestamps and doubles bit-exact
  }

  test("matcher select prunes series; range bounds are [mint, maxt)") {
    val out = ChunkStore.select(spark, blockPath,
        "2024-01-01 05:00:00", "2024-01-01 10:00:00",
        Seq(Matcher.Eq("event_type", "click")),
        Seq("event_type", "user_id"), "ts", "value")
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getString(0) == "click"))
    val lo = ts("2024-01-01 05:00:00").getTime
    val hi = ts("2024-01-01 10:00:00").getTime
    assert(rows.forall { r =>
      val t = r.getTimestamp(2).getTime; t >= lo && t < hi
    })
    // oracle: same filter on the raw table
    val expect = eventsDF.filter(col("event_type") === "click" &&
        col("ts") >= lit("2024-01-01 05:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-01 10:00:00").cast("timestamp"))
      .count()
    assert(rows.length.toLong == expect)
  }

  test("chunks file stores framed blobs with mint/maxt metadata") {
    val chunks = spark.read.parquet(s"$blockPath/chunks")
    assert(chunks.columns.toSet ==
      Set("series_ref", "series_ref2", "bucket", "mint", "maxt", "n_samples", "data"))
    // 60 series × multi-day span, samplesPerChunk 16 → every blob
    // has ≥ 1 frame and metadata brackets its samples
    val bad = chunks.filter(col("mint") > col("maxt")).count()
    assert(bad == 0)
    // total samples preserved
    assert(chunks.agg(sum("n_samples")).as[Long].head() == eventsDF.count())
    // labels file: one row per distinct series
    val labels = spark.read.parquet(s"$blockPath/labels")
    assert(labels.count() == 60)
    assert(labels.select("series_ref", "series_ref2").distinct().count() == 60)
  }

  test("selectStrict enforces the REAL encoded chunk-byte quota") {
    // quota below the matched blobs' total → throws with real sizes
    val e = intercept[graft.tsdb.QuotaExceededException] {
      ChunkStore.selectStrict(spark, blockPath,
        "2024-01-01 00:00:00", "2024-02-01 00:00:00",
        Seq(Matcher.Eq("event_type", "click")),
        Seq("event_type", "user_id"), "ts", "value",
        chunkBytesQuota = 10L)
    }
    assert(e.getMessage.contains("encoded chunk bytes"))
    // generous quota → same answer as plain select
    val ok = ChunkStore.selectStrict(spark, blockPath,
      "2024-01-01 00:00:00", "2024-02-01 00:00:00",
      Seq(Matcher.Eq("event_type", "click")),
      Seq("event_type", "user_id"), "ts", "value",
      chunkBytesQuota = 100L * 1024 * 1024)
    assert(ok.count() == 1000) // 20 users x 50 samples
    // the quota only counts blobs SURVIVING pruning: a narrow time
    // range must pass a quota the full range exceeds
    val totalBytes = spark.read.parquet(s"$blockPath/chunks")
      .join(spark.read.parquet(s"$blockPath/labels")
        .filter(col("event_type") === "click")
        .select("series_ref", "series_ref2"),
        Seq("series_ref", "series_ref2"))
      .agg(sum(length(col("data")))).head().getLong(0)
    val narrow = ChunkStore.selectStrict(spark, blockPath,
      "2024-01-01 00:00:00", "2024-01-01 06:00:00",
      Seq(Matcher.Eq("event_type", "click")),
      Seq("event_type", "user_id"), "ts", "value",
      chunkBytesQuota = totalBytes - 1)
    assert(narrow.count() > 0)
  }

  test("mergeBlocks compacts overlapping chunked blocks, LWW") {
    val root = Files.createTempDirectory("graft_chunkmerge").toString
    val a = Seq(
      ("click", 1L, ts("2024-01-01 10:00:00"), 1.0),
      ("click", 1L, ts("2024-01-02 10:00:00"), 2.0))
      .toDF("event_type", "user_id", "ts", "value")
    val b = Seq(
      ("click", 1L, ts("2024-01-02 10:00:00"), 99.0), // overlap: b wins
      ("view", 2L, ts("2024-01-03 10:00:00"), 3.0))
      .toDF("event_type", "user_id", "ts", "value")
    ChunkStore.write(a, s"$root/a", Seq("event_type", "user_id"), "ts", "value")
    ChunkStore.write(b, s"$root/b", Seq("event_type", "user_id"), "ts", "value")
    ChunkStore.mergeBlocks(spark, Seq(s"$root/a", s"$root/b"), s"$root/out",
      Seq("event_type", "user_id"), "ts", "value")
    val out = ChunkStore.select(spark, s"$root/out",
        "2024-01-01 00:00:00", "2024-02-01 00:00:00", Nil,
        Seq("event_type", "user_id"), "ts", "value")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getTimestamp(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2, t._3.getTime))
    assert(out.length == 3)
    assert(out(1)._4 == 99.0) // the later block's sample won
    assert(out(2)._1 == "view")
  }

  test("select plan broadcasts the labels side and prunes buckets") {
    val plan = ChunkStore.select(spark, blockPath,
        "2024-01-01 00:00:00", "2024-01-02 00:00:00",
        Seq(Matcher.Eq("event_type", "view")),
        Seq("event_type", "user_id"), "ts", "value")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"))
  }

  test("an unknown bucket-duration unit fails with the converter's typed error") {
    // the chunk layouts size their bucket range with the same parser
    // the converter partitions by, so a unit it does not know is one
    // IllegalArgumentException on either select path
    val range = ("2024-01-01 00:00:00", "2024-01-02 00:00:00")
    val chunked = intercept[IllegalArgumentException](
      ChunkStore.select(spark, blockPath, range._1, range._2, Nil,
        Seq("event_type", "user_id"), "ts", "value", colDuration = "1 week"))
    assert(chunked.getMessage == "bad unit week")
    val hist = intercept[IllegalArgumentException](
      graft.tsdb.HistChunkStore.select(spark, blockPath, range._1, range._2,
        Nil, Seq("event_type", "user_id"), "ts", colDuration = "1 week"))
    assert(hist.getMessage == "bad unit week")
  }

  test("labels and chunks files compress independently (WithLabels/ChunksCompression analog)") {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    import java.nio.file.Files
    def codec(dir: java.io.File): String = {
      def firstParquet(f: java.io.File): java.io.File =
        if (f.isFile)
          (if (f.getName.endsWith(".parquet")) f else null)
        else f.listFiles().filterNot(_.getName.startsWith("_"))
          .sortBy(_.getName).iterator.map(firstParquet)
          .find(_ != null).orNull
      val part = firstParquet(dir)
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(part.getAbsolutePath),
          new Configuration()))
      try reader.getFooter.getBlocks.asScala.head
        .getColumns.asScala.head.getCodec.toString
      finally reader.close()
    }
    val root = Files.createTempDirectory("graft_cscomp").toString + "/blk"
    ChunkStore.write(eventsDF, root, Seq("event_type", "user_id"),
      "ts", "value", labelsCompression = Some("zstd"),
      chunksCompression = Some("uncompressed"))
    assert(codec(new java.io.File(s"$root/labels")) == "ZSTD")
    assert(codec(new java.io.File(s"$root/chunks")) == "UNCOMPRESSED")
  }
}
