package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

/** What one workload run measured. `opMs` are the untraced operation
  * latencies the end-to-end metrics come from; `tracedOpMs` those run
  * with tracing on (empty in an untraced run).
  */
final case class Outcome(
    attempted: Long,
    failed: Long,
    setupS: Seq[Double],
    warmupS: Double,
    opMs: Seq[Double],
    tracedOpMs: Seq[Double],
    named: Seq[(String, Any)],
    layer: Seq[(String, Double)],
    shape: Seq[(String, Any)],
    checks: Seq[(String, Boolean)])

/** Everything a workload needs from the run. */
final case class Ctx(spark: SparkSession, tracer: Tracer, work: File, seed: Long,
    seconds: Int, cores: Int, traced: Boolean)

object Harness {
  /** Set-ups performed per run; `setup_s` is their median. */
  val SetupRounds = 3

  /** Run `build` (the store builds over the generated input)
    * [[SetupRounds]] times, each into a fresh directory under `work` (the
    * previous round's directory is removed before the next starts,
    * untimed), then `warm` once on the kept result. Returns the kept
    * result, every round's wall time and the warm-up's, in seconds. The
    * warm-up (JIT, footer caches) runs the workload's own operations, so
    * it is timed apart from set-up.
    */
  def setups[T](work: File)(build: File => T)(warm: T => Unit): (T, Seq[Double], Double) = {
    var kept: Option[(T, File)] = None
    val times = phase("setup")((1 to SetupRounds).map { i =>
      kept.foreach { case (_, d) => delete(d) }
      val dir = new File(work, s"setup-$i")
      dir.mkdirs()
      val t0 = System.nanoTime()
      val r = build(dir)
      val s = (System.nanoTime() - t0) / 1e9
      kept = Some((r, dir))
      s
    })
    val t0 = System.nanoTime()
    phase("warmup")(warm(kept.get._1))
    (kept.get._1, times, (System.nanoTime() - t0) / 1e9)
  }

  /** Closed loop, one client, no think time: `op(i)` runs back to back
    * until `seconds` have passed and at least `minOps` ran, stopping only
    * after a whole multiple of `batch` operations. Returns each
    * operation's own latency in ms (`op` times itself, so the
    * benchmark's checks between operations are not charged to it).
    */
  def closedLoop(seconds: Int, minOps: Int, batch: Int = 1)(op: Int => Double): Seq[Double] =
      phase("loop") {
    val deadline = System.nanoTime() + seconds * 1000000000L
    val out = Seq.newBuilder[Double]
    var i = 0
    while (i < minOps || System.nanoTime() < deadline || i % batch != 0) {
      out += op(i)
      i += 1
    }
    out.result()
  }

  /** The traced run's loop: operations in groups of `group`, tracing on
    * for groups 0 and 3 of every 4 and off for 1 and 2 (ABBA), so a
    * steady drift in machine speed or warm-up weighs on both halves
    * alike and their difference is the tracing overhead. Runs until
    * `seconds` have passed and a whole multiple of 4 groups ran. Returns
    * the untraced and the traced latencies in ms, `op(i, traced)` timing
    * itself as in [[closedLoop]].
    */
  def abbaLoop(tracer: Tracer, seconds: Int, group: Int)(op: (Int, Boolean) => Double)
      : (Seq[Double], Seq[Double]) = phase("loop") {
    val deadline = System.nanoTime() + seconds * 1000000000L
    val plain = Seq.newBuilder[Double]
    val traced = Seq.newBuilder[Double]
    tracer.start()
    tracer.stop()
    var i = 0
    while (i < 4 * group || System.nanoTime() < deadline || i % (4 * group) != 0) {
      val on = Set(0, 3)((i / group) % 4)
      if (i % group == 0) { if (on) tracer.resume() else tracer.stop() }
      (if (on) traced else plain) += op(i, on)
      i += 1
    }
    tracer.stop()
    (plain.result(), traced.result())
  }

  private val phases = mutable.ArrayBuffer.empty[(String, Double)]

  /** Time one phase of the run (set-up, loops, checks), for the detail line. */
  def phase[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally phases += name -> (System.nanoTime() - t0) / 1e9
  }

  /** Seconds per phase name, summed over repeats, in first-run order. */
  def phaseSeconds: Seq[(String, Double)] =
    phases.map(_._1).distinct.map(n => n -> phases.filter(_._1 == n).map(_._2).sum).toSeq

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(delete)
    f.delete()
  }

  /** Row-set equality up to row order; doubles agree to a relative 1e-9
    * (two plans may sum in different orders). */
  def sameRows(a: Seq[Row], b: Seq[Row]): Boolean = {
    def norm(rs: Seq[Row]) = rs.map(_.toSeq.map {
      case d: Double => Right(d)
      case x => Left(String.valueOf(x))
    }).sortBy(_.map {
      case Left(s) => s
      case Right(d) => f"$d%.6e"
    }.mkString("\u0001"))
    def close(x: Double, y: Double) =
      x == y || (x.isNaN && y.isNaN) ||
        math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
    a.size == b.size && norm(a).zip(norm(b)).forall { case (ra, rb) =>
      ra.size == rb.size && ra.zip(rb).forall {
        case (Left(x), Left(y)) => x == y
        case (Right(x), Right(y)) => close(x, y)
        case _ => false
      }
    }
  }
}

object Main {
  private val Workloads: Map[String, Ctx => Outcome] = Map(
    "prom_query" -> PromQueryBench.run,
    "llm_dedup" -> DedupBench.run)

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.err.println("usage: Main --workload <" + Workloads.keys.toSeq.sorted.mkString("|") +
      "> --seed <n> --seconds <n> --trace <0|1> --work <dir> [--trace-out <file>] " +
      "[--source <id>]")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => usage(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = opts.getOrElse(k, usage(s"missing --$k"))
    val workload = need("workload")
    val run = Workloads.getOrElse(workload, usage(s"unknown workload $workload"))
    val seed = need("seed").toLong
    val seconds = need("seconds").toInt
    val traced = need("trace") match {
      case "0" => false
      case "1" => true
      case t => usage(s"--trace must be 0 or 1, got $t")
    }
    val work = new File(need("work")).getAbsoluteFile
    work.mkdirs()
    // two task slots: the inputs are small, and on a shared 4-core host
    // local[2] ran both workloads faster and steadier than local[4]
    val cores = math.min(2, Runtime.getRuntime.availableProcessors)
    val spark = Harness.phase("session")(SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    val result =
      try {
        val ctx = Ctx(spark, new Tracer(spark), work, seed, seconds, cores, traced)
        val out = run(ctx)
        if (traced) opts.get("trace-out").foreach { p =>
          ctx.tracer.write(new File(p), Seq("kind" -> "run", "workload" -> workload,
            "seed" -> seed))
        }
        report(workload, seed, seconds, cores, traced, opts.get("source"), spark, out)
      } finally spark.stop()
    println(result)
  }

  private def report(workload: String, seed: Long, seconds: Int, cores: Int,
      traced: Boolean, source: Option[String], spark: SparkSession, o: Outcome): String = {
    val p50 = Stats.median(o.opMs)
    val e2e = Seq(
      "setup_s" -> ("s", Stats.median(o.setupS)),
      "op_p50_ms" -> ("ms", p50),
      "ops_per_s" -> ("1/s", o.opMs.size / (o.opMs.sum / 1000.0)))
    // in the traced run, opMs are the untraced operations of its ABBA loop
    val layer = o.layer ++ (if (traced) {
      val tp50 = Stats.median(o.tracedOpMs)
      Seq("trace.untraced_op_p50_ms" -> p50, "trace.traced_op_p50_ms" -> tp50,
        "trace.overhead_frac" -> (tp50 - p50) / p50)
    } else Nil)
    val runtime = java.lang.management.ManagementFactory.getRuntimeMXBean
    val env = Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "master" -> s"local[$cores]",
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "jvm_flags" -> runtime.getInputArguments.toArray.toSeq,
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory,
      "source" -> source.getOrElse("unknown"),
      "seed" -> seed,
      "seconds" -> seconds,
      "traced" -> traced)
    val detail = Seq(
      "detail" -> workload,
      "env" -> env,
      "dataset" -> o.shape,
      "setup_s_rounds" -> o.setupS,
      "warmup_s" -> o.warmupS,
      "op_ms" -> Stats.summary(o.opMs),
      "metrics" -> o.named,
      "checks" -> o.checks.map { case (k, ok) => k -> ok },
      "phase_s" -> Harness.phaseSeconds,
      "per_layer" -> layer)
    println(Json.render(detail))
    val correct = o.failed == 0 && o.checks.forall(_._2)
    val metrics =
      if (traced) {
        val got = layer.toMap
        val unknown = got.keySet -- PerLayer.map(_._1)
        require(unknown.isEmpty, s"unregistered per-layer metrics: $unknown")
        PerLayer.map { case (k, u) =>
          k -> Seq("value" -> got.get(k).filterNot(_.isNaN).getOrElse(0.0), "unit" -> u)
        }
      }
      else e2e.map { case (k, (u, v)) => k -> Seq("value" -> v, "unit" -> u) }
    Json.render(Seq("correct" -> correct, "attempted" -> o.attempted,
      "failed" -> o.failed, "metrics" -> metrics))
  }

  /** Every per-layer metric with its unit, in report order. A traced
    * run reports all of them; a layer the workload does not exercise
    * reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "promql.parse_ms" -> "ms", "promql.compile_ms" -> "ms",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms", "exec.ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "scan.files_read" -> "count", "scan.bytes_read" -> "B", "scan.rows_read" -> "count",
    "scan.files_read_frac" -> "ratio", "scan.rows_returned_per_row_read" -> "ratio",
    "queryable.select_ms" -> "ms", "queryable.series_ms" -> "ms",
    "queryable.label_names_ms" -> "ms", "queryable.label_values_ms" -> "ms",
    "labels.dictionary_values_ms" -> "ms", "labels.dict_bytes_read" -> "B",
    "cache.hit_frac" -> "ratio",
    "rollup.served_frac" -> "ratio", "rollup.write_s" -> "s",
    "shard.select_ms" -> "ms", "shard.series_ms" -> "ms", "shard.chunk_bytes_read" -> "B",
    "shard.write_s" -> "s", "shard.bytes_per_sample" -> "B", "shard.merge_s" -> "s",
    "block.read_s" -> "s", "block.bytes_in" -> "B", "convert.write_s" -> "s",
    "convert.files_out" -> "count", "convert.bytes_per_sample" -> "B",
    "labelindex.write_s" -> "s", "compact.merge_s" -> "s",
    "compact.bytes_rewritten_per_byte_in" -> "ratio",
    "dedup.signature_s" -> "s", "dedup.lsh_s" -> "s", "dedup.candidate_pairs" -> "count",
    "dedup.neardup_s" -> "s", "dedup.verified_pairs" -> "count",
    "dedup.candidate_yield" -> "ratio", "dedup.clusters_s" -> "s",
    "spark.executor_run_ms" -> "ms", "spark.executor_cpu_ms" -> "ms", "spark.gc_ms" -> "ms",
    "spark.shuffle_write_bytes" -> "B", "spark.shuffle_read_bytes" -> "B",
    "spark.spill_bytes" -> "B", "spark.task_failures" -> "count",
    "spark.block_store_peak_bytes" -> "B",
    "e2e.range_p50_ms" -> "ms", "e2e.instant_p50_ms" -> "ms",
    "e2e.select_p50_ms" -> "ms", "e2e.metadata_p50_ms" -> "ms",
    "e2e.queries_per_s" -> "1/s", "e2e.ingest_samples_per_s" -> "samples/s",
    "e2e.compact_samples_per_s" -> "samples/s", "e2e.bytes_per_sample" -> "B",
    "e2e.dedup_docs_per_s" -> "docs/s", "e2e.dedup_pair_recall" -> "ratio",
    "trace.untraced_op_p50_ms" -> "ms", "trace.traced_op_p50_ms" -> "ms",
    "trace.overhead_frac" -> "ratio")
}
