package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.index.{IndexTables, PostingsBuilder, TextIndex}
import graft.io.TableIO
import graft.query.Searcher
import graft.streaming.{Compactor, IncrementalIndexer}
import graft.web.WebIndex

/** Benchmark entry point: runs one workload for one seed and writes one
  * JSON result (metrics, op counts, calibration labels, gate failures).
  *
  * {{{
  * Measure --workload build|serve|ingest_serve|suite --seed N --seconds S
  *         --trace 0|1 --work DIR --result FILE [--sf DIR]
  * }}}
  *
  * With `--trace 0` the result holds the end-to-end metrics. With
  * `--trace 1` it holds the per-layer metrics, read from spans recorded
  * around the public calls of each module (written to DIR/spans.jsonl). */
object Measure {

  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String, result: String, cores: Int,
                        sf: Option[String] = None)

  val K = 10
  /** Bench's build configuration. */
  val BuildCfg: PostingsBuilder.Config =
    PostingsBuilder.Config(shardSize = 8192, shardGroups = 1)
  val BuildDocs = 12000L
  val ServeDocs = 12000L
  val BaseDocs = 6000L
  val BatchDocs = 1500L
  /** Set-up steps are repeated this often and the median is reported. */
  val SetupReps = 3
  /** Untimed queries that warm a fresh handle (JIT, df cache). */
  val WarmupQueries = 40
  /** Queries checked against the Catalyst reference scorer per run. */
  val GateQueries = 3

  /** Per-layer metrics: (name, unit). A layer a workload does not exercise
    * reports 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "web.extract_dedup_s" -> "s",
    "analysis.analyze_mb_per_s" -> "MB/s",
    "analysis.query_analyze_us" -> "us",
    "index.build_from_corpus_s" -> "s",
    "index.task_s" -> "s",
    "index.cpu_s" -> "s",
    "index.gc_s" -> "s",
    "index.shuffle_write_mb" -> "MB",
    "index.spill_mb" -> "MB",
    "index.utilization" -> "ratio",
    "index.bytes_per_posting" -> "B",
    "index.scaling_eff" -> "ratio",
    "codec.encode_mpostings_per_s" -> "Mpostings/s",
    "codec.decode_mpostings_per_s" -> "Mpostings/s",
    "io.index_dir_mb" -> "MB",
    "query.open_s" -> "s",
    "query.search_ms" -> "ms",
    "query.jobs_per_search" -> "count",
    "query.tasks_per_search" -> "count",
    "query.task_ms_per_search" -> "ms",
    "query.kernel_ms" -> "ms",
    "query.blocks_per_query" -> "count",
    "streaming.ingest_batch_s" -> "s",
    "streaming.open_with_segments_s" -> "s",
    "streaming.compact_s" -> "s",
    "streaming.compact_rewritten_mb" -> "MB",
    "jvm.gc_s" -> "s",
    "jvm.peak_rss_mb" -> "MB",
    "ops.failed_ratio" -> "ratio",
    "trace.overhead_pct" -> "%",
    "trace.split_cost_s" -> "s")

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", req("work"), req("result"),
      Runtime.getRuntime.availableProcessors(), m.get("sf"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val run = new Run
    val w: Workload = o.workload match {
      case "build" => new Build(o, run)
      case "serve" => new Serve(o, run)
      case "ingest_serve" => new IngestServe(o, run)
      case "suite" => new Suite(o, run)
      case other => sys.error(s"unknown workload $other")
    }
    val gc0 = Run.gcSeconds()
    try w.execute()
    finally {
      run.label("jvm_gc_s.total", Run.gcSeconds() - gc0)
      if (o.trace) {
        w.tracer.drain()
        w.tracer.write(Paths.get(o.work, "spans.jsonl"))
      }
      if (o.trace && o.workload != "suite") {
        val ratio = if (run.attempted > 0) run.failed.toDouble / run.attempted else 0.0
        val have = w.layer.toMap ++
          Map("ops.failed_ratio" -> ratio, "jvm.peak_rss_mb" -> Run.peakRssMb())
        PerLayer.foreach { case (n, u) => run.metric(n, have.getOrElse(n, 0.0), u) }
      } else run.label("peak_rss_mb", Run.peakRssMb())
      Files.writeString(Paths.get(o.result), run.json)
      w.tracer.close()
      w.spark.stop()
    }
  }
}

/** Shared plumbing of the workloads. */
abstract class Workload(val o: Measure.Opts, val run: Run) {
  import Measure._

  var spark: SparkSession = Session.create(o.cores, Session.defaultPartitions(o.cores))
  var tracer = new Tracer(spark.sparkContext, o.trace)
  /** Per-layer values of a traced run, filled by the workload. */
  val layer = ArrayBuffer.empty[(String, Double)]
  def parts: Int = Session.defaultPartitions(o.cores)

  def execute(): Unit

  def path(name: String): String = s"${o.work}/$name"

  /** Runs one phase of the workload and labels the result with its wall
    * time, so a slow run shows where its time went. */
  def phase[T](name: String)(body: => T): T = {
    val (r, dt) = timed(body)
    run.label(s"phase_s.$name", dt)
    r
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Writes ids `[lo, hi)` of the corpus as input_hint parquet. */
  def stage(c: Corpus, lo: Long, hi: Long, dir: String): Unit =
    c.rows(spark, lo, hi, parts).write.mode("overwrite").parquet(dir)

  def build(docs: => DataFrame, indexDir: String): TableIO = {
    new TableIO(indexDir).deleteAll()
    WebIndex.build(spark, docs, indexDir, BuildCfg)
  }

  /** Median over `SetupReps` opens; returns the last handle, still open. */
  def openHandle(indexDir: String): (Searcher.Handle, Seq[Double]) = {
    val opens = (1 to SetupReps).map(_ => timed(Searcher.open(spark, indexDir)))
    opens.init.foreach(_._1.close())
    (opens.last._1, opens.map(_._2))
  }

  /** Rows of a (qid, rnk, doc_id, score_x6) frame. */
  def hits(df: DataFrame): Seq[Gates.Hit] =
    df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))

  def search(h: Searcher.Handle, q: String): Seq[Gates.Hit] =
    hits(Searcher.search(h, Seq(1 -> q), K))

  /** One timed query op; with tracing on it is the root span of its own
    * request, next to a span for analysing the query string. */
  def query(h: Searcher.Handle, q: String): Option[Double] = {
    val req = tracer.newRequest()
    val r = tracer.span("query.search", req) {
      run.op("query")(search(h, q))(Gates.wellFormed(_, K))
    }
    if (tracer.enabled) tracer.span("analysis.query_analyze", req)(Analyzer.analyzeStop(q))
    r.map(_._2 * 1000.0)
  }

  /** Closed loop of one client until the deadline; latencies in ms. In a
    * traced run each query runs twice, once traced and once not, in
    * alternating order (so the df cache the first run fills favours each
    * side equally), and the gap between the two medians is reported as the
    * tracing overhead. */
  def queryLoop(h: Searcher.Handle, stream: IndexedSeq[(Int, String)],
                deadlineNs: Long): Seq[Double] = {
    val traced = ArrayBuffer.empty[Double]
    val plain = ArrayBuffer.empty[Double]
    var i = 0
    while (System.nanoTime() < deadlineNs) {
      val q = stream(i % stream.size)._2
      if (!tracer.enabled) query(h, q).foreach(plain += _)
      else if (i % 2 == 0) {
        untraced(query(h, q)).foreach(plain += _); query(h, q).foreach(traced += _)
      } else {
        query(h, q).foreach(traced += _); untraced(query(h, q)).foreach(plain += _)
      }
      i += 1
    }
    if (tracer.enabled) layer += "trace.overhead_pct" -> overheadPct(plain.toSeq, traced.toSeq)
    (plain ++ traced).toSeq
  }

  /** Runs `body` with tracing off. */
  def untraced[T](body: => T): T = {
    val t = tracer
    tracer = new Tracer(spark.sparkContext, enabled = false)
    try body finally tracer = t
  }

  def overheadPct(plain: Seq[Double], traced: Seq[Double]): Double =
    (Run.median(traced) - Run.median(plain)) / Run.median(plain) * 100

  def latencyMetrics(lats: Seq[Double]): Unit = {
    run.metric("latency_p50_ms", Run.percentile(lats, 0.50), "ms")
    run.metric("latency_p90_ms", Run.percentile(lats, 0.90), "ms")
  }

  /** Per-search layer numbers from the traced `query.search` spans that
    * started after `sinceNs`. */
  def searchLayers(sinceNs: Long): Unit = {
    tracer.drain()
    val ss = tracer.named("query.search").filter(_.startNs >= sinceNs)
    if (ss.nonEmpty) {
      val aggs = ss.map(tracer.tasksOf)
      layer += "query.search_ms" -> Run.median(ss.map(_.seconds * 1000))
      layer += "query.jobs_per_search" -> aggs.map(_.jobs.get).sum.toDouble / ss.size
      layer += "query.tasks_per_search" -> aggs.map(_.tasks.get).sum.toDouble / ss.size
      layer += "query.task_ms_per_search" -> aggs.map(_.runMs.get).sum.toDouble / ss.size
    }
  }

  /** The serving gates: live docs equal the distinct urls of ids `[0, hi)`,
    * and a seeded query sample is rank- and score-identical to
    * `TextIndex.scoreQueries` + `topK` over the same live corpus. */
  def referenceGates(h: Searcher.Handle, c: Corpus, hi: Long,
                     sample: Seq[(Int, String)]): Unit = {
    val live = c.liveDocs(hi)
    val docMap = IndexTables.docMap(spark, new TableIO(h.indexDir))
    run.gate(Gates.docCount(live.size.toLong, docMap.count()))
    if (sample.nonEmpty) {
      val docs = spark.createDataFrame(live).toDF("url", "text")
        .join(docMap.select("url", "doc_id"), "url").select("doc_id", "text").cache()
      val terms = sample.flatMap { case (qid, q) => Analyzer.analyzeStop(q).map(qid -> _) }
      val ref = hits(TextIndex.topK(TextIndex.scoreQueries(spark, docs, terms), K))
      run.gate(Gates.topK(ref, hits(Searcher.search(h, sample, K))))
      docs.unpersist()
    }
  }

  /** A seeded gate sample drawn from a query stream, re-keyed 1..n. */
  def gateSample(stream: IndexedSeq[(Int, String)]): Seq[(Int, String)] =
    (0 until GateQueries).map { i =>
      val j = (math.abs(Corpus.mix(o.seed ^ (i + 99L))) % stream.size).toInt
      (i + 1) -> stream(j)._2
    }

  /** A build with `extractAndDedup` and `buildFromCorpus` as two traced
    * calls (the extracted corpus is written in between); returns its wall
    * seconds. */
  def splitBuild(docs: => DataFrame, indexDir: String): Double = {
    new TableIO(indexDir).deleteAll()
    val extracted = path("extracted")
    timed {
      tracer.span("web.extract_dedup") {
        WebIndex.extractAndDedup(docs).select(col("url"), col("extracted").as("text"))
          .write.mode("overwrite").parquet(extracted)
      }
      tracer.span("index.build_from_corpus") {
        WebIndex.buildFromCorpus(spark, spark.read.parquet(extracted), indexDir, BuildCfg)
      }
    }._2
  }

  /** Write-path layer numbers from the last traced `splitBuild`. */
  def buildLayers(c: Corpus, indexDir: String): Unit = {
    tracer.drain()
    val ex = tracer.named("web.extract_dedup").last
    val bfc = tracer.named("index.build_from_corpus").last
    val a = tracer.tasksOf(bfc)
    layer += "web.extract_dedup_s" -> ex.seconds
    layer += "index.build_from_corpus_s" -> bfc.seconds
    layer += "index.task_s" -> a.runMs.get / 1000.0
    layer += "index.cpu_s" -> a.cpuNs.get / 1e9
    layer += "index.gc_s" -> a.gcMs.get / 1000.0
    layer += "index.shuffle_write_mb" -> a.shuffleWriteBytes.get / 1048576.0
    layer += "index.spill_mb" -> a.spillBytes.get / 1048576.0
    layer += "index.utilization" -> (a.runMs.get / 1000.0) / (bfc.seconds * o.cores)
    val lin = spark.read.parquet(new TableIO(indexDir).tablePath("lineage"))
      .agg(sum("postings_bytes"), sum("n_postings")).head()
    layer += "index.bytes_per_posting" -> lin.getLong(0).toDouble / lin.getLong(1)
    layer += "analysis.analyze_mb_per_s" -> Layers.analyzeMbPerS((0L until 2000L).map(c.text))
  }

  def codecLayers(indexDir: String): Unit = {
    val (enc, dec) = Layers.codecMPostingsPerS(spark, indexDir)
    layer += "codec.encode_mpostings_per_s" -> enc
    layer += "codec.decode_mpostings_per_s" -> dec
    layer += "io.index_dir_mb" -> Run.dirBytes(indexDir) / 1048576.0
  }
}

/** `build`: the write path. The staged corpus is built repeatedly at
  * local[cores]; each build is one op. */
final class Build(o: Measure.Opts, run: Run) extends Workload(o, run) {
  import Measure._

  def execute(): Unit = {
    val c = Corpus(o.seed, BuildDocs)
    val input = path("input")
    run.calib("setup")
    val stages = phase("setup") {
      (0 until SetupReps).map(i => timed(stage(c, 0, BuildDocs, s"$input-$i"))._2)
    }
    (1 until SetupReps).foreach(i => new TableIO(s"$input-$i").deleteAll())
    val in = s"$input-0"
    run.metric("setup_s", Run.median(stages), "s")
    val bytes = c.textBytes(0, BuildDocs)
    val idx = path("idx")
    phase("warmup")((1 to 2).foreach(_ => build(spark.read.parquet(in), idx))) // JIT, codegen, file caches

    run.calib("measure")
    val gc0 = Run.gcSeconds()
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    val walls = ArrayBuffer.empty[Double]
    phase("measure") {
      while (System.nanoTime() < deadline || walls.size < 3) {
        run.op("build")(build(spark.read.parquet(in), idx))(_ => PostingsBuilder.isComplete(idx))
          .foreach(walls += _._2)
      }
    }
    val gc = Run.gcSeconds() - gc0
    run.calib("end")
    run.metric("throughput_per_s", BuildDocs / Run.median(walls.toSeq), "1/s")
    latencyMetrics(walls.map(_ * 1000.0).toSeq)
    run.metric("index_bytes_per_input_byte", Run.dirBytes(idx).toDouble / bytes, "ratio")

    phase("gate") {
      val live = IndexTables.docMap(spark, new TableIO(idx)).count()
      run.gate(Gates.docCount(c.liveDocs(BuildDocs).size.toLong, live))
    }
    if (o.trace) phase("trace")(traced(c, in, Run.median(walls.toSeq), gc))
  }

  /** The traced build calls `extractAndDedup` and `buildFromCorpus`
    * separately (the untraced one calls them fused through `build`); an
    * untraced split build prices the split, a traced one the tracing. */
  private def traced(c: Corpus, in: String, fusedWall: Double, gc: Double): Unit = {
    val idx = path("idx")
    // ABBA, so drift during the four builds favours neither side
    val first = untraced(splitBuild(spark.read.parquet(in), idx))
    val tracedSplits = Seq(splitBuild(spark.read.parquet(in), idx),
      splitBuild(spark.read.parquet(in), idx))
    val untracedSplits = Seq(first, untraced(splitBuild(spark.read.parquet(in), idx)))
    buildLayers(c, idx)
    layer += "jvm.gc_s" -> gc
    layer += "trace.overhead_pct" -> overheadPct(untracedSplits, tracedSplits)
    layer += "trace.split_cost_s" -> (Run.median(untracedSplits) - fusedWall)
    codecLayers(idx)

    // scaling: one build at local[1] on the same files and shuffle width
    // (last, since it replaces the session)
    tracer.drain()
    spark.stop()
    spark = Session.create(1, parts)
    val one = timed(build(spark.read.parquet(in), idx))._2
    layer += "index.scaling_eff" -> (one / fusedWall) / o.cores
  }
}

/** `serve`: one resident handle, a closed loop of one query client. */
final class Serve(o: Measure.Opts, run: Run) extends Workload(o, run) {
  import Measure._

  def execute(): Unit = {
    val c = Corpus(o.seed, ServeDocs)
    val idx = path("idx")
    phase("prep") {
      build(c.rows(spark, 0, ServeDocs, parts), idx)
      // traced: rebuild warm, as two traced calls, for the write-path layers
      if (o.trace) splitBuild(c.rows(spark, 0, ServeDocs, parts), idx)
    }
    run.calib("setup")
    val (h, opens) = phase("setup")(openHandle(idx))
    run.metric("setup_s", Run.median(opens), "s")
    phase("warmup")(c.queries(WarmupQueries, salt = 1L << 40).foreach(q => search(h, q._2)))
    val stream = c.queries(20000)

    run.calib("measure")
    val gc0 = Run.gcSeconds()
    val t0 = System.nanoTime()
    val window = (o.seconds * 1e9).toLong
    val lats = phase("measure")(queryLoop(h, stream, t0 + window))
    val wall = (System.nanoTime() - t0) / 1e9
    val gc = Run.gcSeconds() - gc0
    run.calib("end")
    run.metric("throughput_per_s", lats.size / wall, "1/s")
    latencyMetrics(lats)
    run.metric("index_bytes_per_input_byte",
      Run.dirBytes(idx).toDouble / c.textBytes(0, ServeDocs), "ratio")

    if (o.trace) {
      searchLayers(t0)
      layer += "query.open_s" -> Run.median(opens)
      layer += "jvm.gc_s" -> gc
      val sample = stream.take(20).map(_._2)
      val kern = Layers.kernel(spark, h, sample, K)
      layer += "query.kernel_ms" -> kern.map(_._1).sum / kern.size
      layer += "query.blocks_per_query" -> kern.map(_._2).sum.toDouble / kern.size
      layer += "analysis.query_analyze_us" -> Layers.queryAnalyzeUs(stream.take(200).map(_._2))
      codecLayers(idx)
      buildLayers(c, idx)
    }
    phase("gate")(referenceGates(h, c, ServeDocs, gateSample(stream)))
    h.close()
  }
}

/** `ingest_serve`: micro-batches go through `IncrementalIndexer` while one
  * query client searches a handle it reopens after every commit; then
  * `Compactor.compact` and one more reopen. */
final class IngestServe(o: Measure.Opts, run: Run) extends Workload(o, run) {
  import Measure._

  def execute(): Unit = {
    val c = Corpus(o.seed, BaseDocs)
    val nBatches = math.max(2, math.round(o.seconds / 3.5).toInt)
    val idx = path("idx")
    val batches = phase("prep") {
      build(c.rows(spark, 0, BaseDocs, parts), idx)
      c.batches(spark, BaseDocs, BatchDocs, nBatches, parts)
        .write.partitionBy("batch").parquet(path("batches"))
      (0 until nBatches).map(b => path(s"batches/batch=$b"))
    }
    val inputBytes = c.textBytes(0, BaseDocs + nBatches * BatchDocs)
    run.calib("setup")
    val (h0, opens) = phase("setup")(openHandle(idx))
    run.metric("setup_s", Run.median(opens), "s")
    phase("warmup")(c.queries(WarmupQueries, salt = 1L << 40).foreach(q => search(h0, q._2)))
    val stream = c.queries(20000)
    if (o.trace) // tracing overhead on the base handle, before any writes
      queryLoop(h0, c.queries(200, salt = 1L << 41), System.nanoTime() + 4000000000L)

    run.calib("measure")
    val t0 = System.nanoTime()
    val gc0 = Run.gcSeconds()
    val generation = new AtomicInteger(0)
    val done = new AtomicBoolean(false)
    val lats = ArrayBuffer.empty[Double]
    val reopens = ArrayBuffer.empty[Double]
    @volatile var handle = h0
    val client = new Thread(() => {
      var seen = 0
      var i = 0
      while (!done.get) {
        val g = generation.get
        if (g != seen) {
          handle.close()
          val (h, dt) = timed(tracer.span("streaming.open_with_segments")(Searcher.open(spark, idx)))
          handle = h
          reopens += dt
          seen = g
        }
        query(handle, stream(i % stream.size)._2).foreach(q => lats.synchronized(lats += q))
        i += 1
      }
    }, "perfbench-query-client")
    client.start()
    val ingestStart = System.nanoTime()
    val ingest = batches.zipWithIndex.flatMap { case (dir, b) =>
      val r = run.op("ingest")(tracer.span("streaming.ingest_batch") {
        IncrementalIndexer.ingestBatch(spark, spark.read.parquet(dir), idx, b.toLong, BuildCfg)
      })(_ => new TableIO(idx).committedSteps().contains(s"stream_g$b"))
      generation.incrementAndGet()
      r.map(_._2)
    }
    done.set(true)
    client.join()
    handle.close()
    run.label("phase_s.ingest", (System.nanoTime() - ingestStart) / 1e9)
    val compact = run.op("compact")(tracer.span("streaming.compact") {
      Compactor.compact(spark, idx, BuildCfg)
    })(identity).map(_._2)
    val (h, reopen) = timed(Searcher.open(spark, idx))
    val gc = Run.gcSeconds() - gc0
    run.calib("end")

    run.metric("throughput_per_s", ingest.size * BatchDocs / ingest.sum, "1/s")
    latencyMetrics(lats.toSeq)
    run.metric("index_bytes_per_input_byte", Run.dirBytes(idx).toDouble / inputBytes, "ratio")
    run.label("compact_s", compact.getOrElse(Double.NaN))
    run.label("reopen_after_compact_s", reopen)

    if (o.trace) {
      searchLayers(t0)
      layer += "streaming.ingest_batch_s" -> Run.median(ingest)
      layer += "streaming.open_with_segments_s" -> Run.median(reopens.toSeq)
      layer += "streaming.compact_s" -> compact.getOrElse(0.0)
      layer += "streaming.compact_rewritten_mb" -> Run.dirBytes(idx) / 1048576.0
      layer += "query.open_s" -> Run.median(opens)
      layer += "io.index_dir_mb" -> Run.dirBytes(idx) / 1048576.0
      layer += "jvm.gc_s" -> gc
    }
    phase("gate")(referenceGates(h, c, BaseDocs + nBatches * BatchDocs, gateSample(stream)))
    h.close()
  }
}
