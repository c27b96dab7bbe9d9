package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.Dedup

/** `llm_dedup`: the training-data near-duplicate path. Set-up writes a
  * seeded corpus with planted exact duplicates and near-duplicate
  * families (a base document plus copies with a known share of words
  * replaced); one operation runs `Dedup.minHashNearDup` over the corpus,
  * materializes its pairs once, and consumes `Dedup.clusters` over them
  * (closed loop, back to back). Shuffle- and checkpoint-heavy where
  * `prom_query` is scan- and plan-heavy.
  */
object DedupBench {
  val Docs = 2000
  val WordsPerDoc = 50
  val Vocabulary = 4000
  /** Near-duplicate families: a base document and 1-2 edited copies. */
  val Families = 100
  /** Share of documents that are exact copies of another document. */
  val ExactShare = 0.05
  /** Share of a copy's words replaced: between these bounds. */
  val EditMin = 0.02
  val EditMax = 0.12
  val Shingle = 4
  val Threshold = 0.7
  /** Recall below this fails the run: MinHash LSH at k=32, 8 bands
    * finds a pair at Jaccard 0.7 with probability 0.89, higher above. */
  val RecallFloor = 0.8

  final case class Corpus(texts: Array[String], family: Array[Int], truth: Set[(Long, Long)],
      exactCopies: Int, nearCopies: Int)

  def shingles(s: String): Set[String] =
    if (s.length < Shingle) Set(s) else s.sliding(Shingle).toSet

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    (x intersect y).size.toDouble / (x union y).size
  }

  def corpus(seed: Long): Corpus = {
    val rnd = new java.util.Random(seed)
    val letters = "abcdefghijklmnopqrstuvwxyz"
    val vocab = Array.fill(Vocabulary)(
      Iterator.fill(3 + rnd.nextInt(6))(letters(rnd.nextInt(26))).mkString)
    def words() = Array.fill(WordsPerDoc)(vocab(rnd.nextInt(Vocabulary)))
    val texts = mutable.ArrayBuffer.empty[String]
    val family = mutable.ArrayBuffer.empty[Int]
    var nearCopies = 0
    (0 until Families).foreach { f =>
      val base = words()
      texts += base.mkString(" "); family += f
      (0 until 1 + rnd.nextInt(2)).foreach { _ =>
        val edit = EditMin + rnd.nextDouble() * (EditMax - EditMin)
        val copy = base.map(w => if (rnd.nextDouble() < edit) vocab(rnd.nextInt(Vocabulary)) else w)
        texts += copy.mkString(" "); family += f
        nearCopies += 1
      }
    }
    val exact = (Docs * ExactShare).toInt
    var next = Families
    while (texts.size < Docs - exact) {
      texts += words().mkString(" "); family += next; next += 1
    }
    (0 until exact).foreach { _ =>
      val src = rnd.nextInt(texts.size)
      texts += texts(src); family += family(src)
    }
    // ground truth: pairs within a planted family at or above the threshold
    val truth = texts.indices.groupBy(family(_)).values.filter(_.size > 1).flatMap { ids =>
      for {
        i <- ids; j <- ids if i < j && jaccard(texts(i), texts(j)) >= Threshold
      } yield (i.toLong, j.toLong)
    }.toSet
    Corpus(texts.toArray, family.toArray, truth, exact, nearCopies)
  }

  /** One timed pass: its latency and its (checkpointed) pairs and clusters. */
  final case class Pass(ms: Double, pairs: DataFrame, clusters: DataFrame)

  def run(c: Ctx): Outcome = {
    val spark = c.spark
    val t = c.tracer
    def read(path: String): DataFrame = spark.read.parquet(path)
    def pass(path: String): Pass = {
      val t0 = System.nanoTime()
      val pairs = t.span("dedup.neardup") {
        Dedup.minHashNearDup(read(path), "text", "id", n = Shingle, threshold = Threshold)
          .localCheckpoint()
      }
      val cl = t.span("dedup.clusters")(Dedup.clusters(pairs))
      val (_, f) = t.consume(cl)
      val ms = (System.nanoTime() - t0) / 1e6
      require(f.outputComplete, "clusters: executed plan lost an output column")
      Pass(ms, pairs, cl)
    }
    def write(texts: Seq[String], path: String): Unit =
      spark.createDataFrame(
        java.util.Arrays.asList(texts.indices.map(i => Row(i.toLong, texts(i))): _*),
        StructType(Seq(StructField("id", LongType), StructField("text", StringType))))
        .repartition(c.cores)
        .write.parquet(path)
    val docs = Harness.phase("generate")(corpus(c.seed))
    // set-up: load the corpus into a parquet table
    val (path, setupS, warmupS) = Harness.setups(c.work) { dir =>
      val path = s"$dir/corpus"
      write(docs.texts.toSeq, path)
      path
    }(pass)
    var failed = 0
    var last: Option[Pass] = None
    def op(i: Int, traced: Boolean): Double =
      try {
        val p = t.request(s"${if (traced) "t" else "q"}-$i")(t.span("request.dedup")(pass(path)))
        if (!traced) last = Some(p)
        p.ms
      } catch {
        case e: Exception =>
          System.err.println(s"perfbench: dedup pass failed: $e")
          failed += 1
          Double.NaN
      }
    val (plain, traced) =
      if (c.traced) Harness.abbaLoop(t, c.seconds, group = 1)(op)
      else (Harness.closedLoop(c.seconds, minOps = 2)(op(_, false)), Nil)
    // correctness, untimed, on the last untraced pass's results
    val pairsOut = last.map(_.pairs.collect().toSeq).getOrElse(Nil)
    val clustersOut = last.map(_.clusters.collect().toSeq).getOrElse(Nil)
    val steps =
      if (!c.traced) Nil
      else {
        t.resume()
        val s = t.request("steps")(stepMetrics(c, read(path)))
        t.stop()
        s
      }
    val found = pairsOut.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val wrongScore = found.count { case ((a, b), j) =>
      math.abs(jaccard(docs.texts(a.toInt), docs.texts(b.toInt)) - j) > 1e-4 || j < Threshold
    }
    val recall = docs.truth.count(found.contains).toDouble / docs.truth.size
    val expectedClusters = components(found.keys.toSeq)
    val gotClusters = clustersOut.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val checks = Seq(
      "pair_scores_match_exact_jaccard" -> (wrongScore == 0),
      "pair_recall_at_least_floor" -> (recall >= RecallFloor),
      "passes_succeeded" -> (failed == 0),
      "clusters_match_pair_components" -> (gotClusters == expectedClusters))
    val ok = plain.filterNot(_.isNaN)
    val docsPerS = ok.map(ms => Docs / (ms / 1000.0))
    Outcome(
      attempted = plain.size,
      failed = failed,
      setupS = setupS,
      warmupS = warmupS,
      opMs = ok,
      tracedOpMs = traced.filterNot(_.isNaN),
      named = Seq(
        "pass_ms" -> Stats.summary(ok),
        "dedup_docs_per_s" -> Stats.summary(docsPerS),
        "dedup_pair_recall" -> recall,
        "pairs_found" -> found.size,
        "planted_pairs" -> docs.truth.size),
      layer = if (c.traced) steps ++ Seq(
        "e2e.dedup_docs_per_s" -> Stats.median(docsPerS),
        "e2e.dedup_pair_recall" -> recall) else Nil,
      shape = Seq(
        "docs" -> Docs,
        "words_per_doc" -> WordsPerDoc,
        "vocabulary" -> Vocabulary,
        "near_dup_families" -> Families,
        "near_dup_copies" -> docs.nearCopies,
        "exact_copies" -> docs.exactCopies,
        "planted_duplicate_share" -> (docs.nearCopies + docs.exactCopies).toDouble / Docs,
        "planted_pairs_at_threshold" -> docs.truth.size,
        "edit_share_range" -> Seq(EditMin, EditMax),
        "shingle" -> Shingle,
        "threshold" -> Threshold,
        "corpus_bytes" -> PromData.dirBytes(path)),
      checks = checks)
  }

  /** Connected components of the pair graph as doc -> smallest member. */
  private def components(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(k => k -> find(k)).toMap
  }

  /** The traced run also calls each public step on its own (after the
    * loop, outside the operation latencies): signatures, banded LSH
    * candidates, verified near-duplicates and clusters. */
  private def stepMetrics(c: Ctx, df: DataFrame): Seq[(String, Double)] = {
    val t = c.tracer
    def timedS[T](f: => T): (T, Double) = PromData.timed(f)
    val (_, sigS) = timedS(t.span("dedup.signature") {
      t.consume(Dedup.minHashSignatureArrays(df, "text", "id", Shingle, 32))
    })
    val ((_, lsh), lshS) = timedS(t.span("dedup.lsh") {
      t.consume(Dedup.minHashLsh(df, "text", "id", n = Shingle))
    })
    val (near, nearS) = timedS(t.span("dedup.neardup") {
      Dedup.minHashNearDup(df, "text", "id", n = Shingle, threshold = Threshold).localCheckpoint()
    })
    val verified = near.count()
    val (_, clS) = timedS(t.span("dedup.clusters")(t.consume(Dedup.clusters(near))))
    val engine = t.engine.toSeq.filter(_._1.startsWith("t-")).map(_._2)
    def perOp(f: EngineCounts => Double) = Stats.mean(engine.map(f))
    Seq(
      "dedup.signature_s" -> sigS,
      "dedup.lsh_s" -> lshS,
      "dedup.candidate_pairs" -> lsh.rowsReturned.toDouble,
      "dedup.neardup_s" -> nearS,
      "dedup.verified_pairs" -> verified.toDouble,
      "dedup.candidate_yield" -> verified.toDouble / math.max(1L, lsh.rowsReturned),
      "dedup.clusters_s" -> clS,
      "spark.jobs" -> perOp(_.jobs.toDouble),
      "spark.stages" -> perOp(_.stages.toDouble),
      "spark.tasks" -> perOp(_.tasks.toDouble),
      "spark.executor_run_ms" -> perOp(_.runMs.toDouble),
      "spark.executor_cpu_ms" -> perOp(_.cpuNs / 1e6),
      "spark.gc_ms" -> perOp(_.gcMs.toDouble),
      "spark.shuffle_write_bytes" -> perOp(_.shuffleWrite.toDouble),
      "spark.shuffle_read_bytes" -> perOp(_.shuffleRead.toDouble),
      "spark.spill_bytes" -> perOp(_.spill.toDouble),
      "spark.task_failures" -> engine.map(_.failures).sum.toDouble,
      "spark.block_store_peak_bytes" -> t.peakBlockBytes.toDouble)
  }
}
