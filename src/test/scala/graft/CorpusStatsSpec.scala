package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.Analyzer
import graft.index.{FieldedIndex, IndexTables, PostingsBuilder}
import graft.index.FieldedIndex.FieldSpec
import graft.io.TableIO
import graft.model.CorpusStats
import graft.streaming.{Compactor, FieldedStreaming, IncrementalIndexer}
import graft.web.{WebIndex, WebtextGen}

/** Corpus stats live in the manifest: the snapshot properties every commit
  * path writes (the build's `stats` step, each streamed batch, each fielded
  * field's batch, a compaction's rebuild) must equal a recomputation from
  * the committed doc lengths — N and total_dl exactly, avgdl bit for bit. */
class CorpusStatsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def root = s"${sys.props("user.dir")}/target/test-idx/corpus-stats"
  private val cfg = PostingsBuilder.Config(shardSize = 256)

  private def pages(lo: Long, hi: Long): DataFrame = {
    import spark.implicits._
    spark.range(lo, hi, 1, 4).mapPartitions(_.map(i =>
      WebtextGen.rowFor(i, StreamSpec.Big))).toDF()
  }

  /** The stats of the committed view, recomputed from its doc lengths. */
  private def recomputed(io: TableIO): CorpusStats = {
    val r = IndexTables.docLens(spark, io).agg(count(lit(1)), sum("dl")).head()
    val n = r.getLong(0)
    val dl = if (r.isNullAt(1)) 0L else r.getLong(1)
    CorpusStats(n, if (n == 0) 0.0 else dl.toDouble / n, dl)
  }

  private def assertStats(io: TableIO, what: String): CorpusStats = {
    val got = IndexTables.corpusStats(io)
    val want = recomputed(io)
    assert(got.n_docs === want.n_docs, what)
    assert(got.total_dl === want.total_dl, what)
    assert(java.lang.Double.doubleToRawLongBits(got.avgdl) ===
      java.lang.Double.doubleToRawLongBits(want.avgdl),
      s"$what: avgdl ${got.avgdl} vs ${want.avgdl}")
    got
  }

  test("base, streamed batches, a replayed batch and a compaction keep exact stats") {
    val dir = s"$root/web"
    new TableIO(dir).deleteAll()
    WebIndex.build(spark, pages(0, 600), dir, cfg)
    val io = new TableIO(dir)
    assert(assertStats(io, "bare base").n_docs === 600L)

    IncrementalIndexer.ingestBatch(spark, pages(600, 800), dir, 0L, cfg)
    IncrementalIndexer.ingestBatch(spark, pages(800, 1000), dir, 1L, cfg)
    assert(assertStats(io, "base + 2 batches").n_docs === 1000L)

    // a replay past the commit is a no-op
    IncrementalIndexer.ingestBatch(spark, pages(800, 1000), dir, 1L, cfg)
    assert(assertStats(io, "replay after commit").n_docs === 1000L)

    // a crash before batch 2's commit leaves the snapshot before it; the
    // replay writes the segment again and commits it once
    val before = io.currentSnapshotId().get
    IncrementalIndexer.ingestBatch(spark, pages(1000, 1100), dir, 2L, cfg)
    Files.writeString(Paths.get(dir, "_snapshot", "CURRENT"), before)
    assert(assertStats(io, "crashed batch").n_docs === 1000L)
    IncrementalIndexer.ingestBatch(spark, pages(1000, 1100), dir, 2L, cfg)
    assert(assertStats(io, "replayed batch").n_docs === 1100L)

    assert(Compactor.compact(spark, dir, cfg))
    val compacted = new TableIO(dir)
    assert(IndexTables.activeBatches(compacted).isEmpty)
    assert(assertStats(compacted, "compacted").n_docs === 1100L)
  }

  test("fielded fields, one with no values, keep exact stats across a batch") {
    val fields = Seq(FieldSpec("body", Analyzer.TextStop),
      FieldSpec("note", Analyzer.Keyword))
    def docs(keys: Seq[Int]): DataFrame = {
      import spark.implicits._
      keys.map(i => (f"k$i%03d", s"w${i % 7} common w${i % 3}", Seq.empty[String]))
        .toDF("k", "body", "note")
    }
    val dir = s"$root/fielded"
    new TableIO(dir).deleteAll()
    val fcfg = PostingsBuilder.Config(shardSize = 16)
    FieldedIndex.build(spark, docs(0 until 50), dir, fields, "k", fcfg)
    def fio(f: String) = new TableIO(FieldedIndex.fieldDir(dir, f))
    assert(assertStats(fio("body"), "fielded base").n_docs === 50L)
    assert(assertStats(fio("note"), "empty field base") === CorpusStats(0L, 0.0, 0L))

    // 10 fresh keys and 5 re-crawls
    FieldedStreaming.ingestBatch(spark, docs((100 until 110) ++ (0 until 5)),
      dir, fields, "k", 0L, fcfg)
    assert(IndexTables.activeBatches(fio("body")) === Seq(0L))
    assert(assertStats(fio("body"), "fielded batch").n_docs === 65L)
    assert(IndexTables.activeBatches(fio("note")) === Seq(0L))
    assert(assertStats(fio("note"), "empty field batch") === CorpusStats(0L, 0.0, 0L))
  }
}
