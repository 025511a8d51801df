package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.index.{IndexTables, PostingsBuilder}
import graft.io.TableIO
import graft.query.Searcher
import graft.streaming.{Compactor, IncrementalIndexer}
import graft.web.{WebIndex, WebtextGen}

/** Structured-Streaming incremental ingest: streamed segments must yield
  * BM25 scores identical to a one-shot batch build over the union corpus
  * (docIDs differ — assignment is layout-dependent — so the comparison is on
  * per-query rank→score sequences), replays must be exactly-once under
  * crashes on either side of the manifest commit, and compaction must
  * collapse cross-batch re-crawls last-write-wins. */
class StreamSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val cfg = PostingsBuilder.Config(shardSize = 256)
  private val queries = Seq(1 -> "w1 w2", 2 -> "w3 w17 w23", 3 -> "w5 w100")
  private def root = s"${sys.props("user.dir")}/target/test-stream"

  // unique urls (huge nDocs disables the generator's recrawl aliasing)
  private def docsRange(lo: Long, hi: Long) = {
    import spark.implicits._
    val big = StreamSpec.Big // local copy: the closure must not capture `this`
    spark.range(lo, hi, 1, 4).mapPartitions(_.map(i =>
      WebtextGen.rowFor(i, big))).toDF()
  }

  private def scores(dir: String): Map[Long, Seq[Long]] =
    Searcher.search(spark, dir, queries, 10).collect()
      .groupBy(_.getLong(0))
      .map { case (qid, rs) =>
        qid -> rs.sortBy(_.getLong(1)).map(_.getLong(3)).toSeq
      }

  test("streamed segments are score-identical to a batch build; replays are no-ops") {
    new TableIO(root).deleteAll()
    Files.createDirectories(Paths.get(s"$root/in"))

    // base index over docs [0, 1000)
    val idxDir = s"$root/idx"
    WebIndex.build(spark, docsRange(0, 1000), idxDir, cfg)

    // stream two files of new docs (must be FLAT files in the watched dir —
    // the file-stream source ignores non-partition subdirectories)
    def writeFlat(lo: Long, hi: Long, name: String): Unit = {
      val tmp = s"$root/tmp-$name"
      docsRange(lo, hi).coalesce(1).write.parquet(tmp)
      val part = Files.list(Paths.get(tmp)).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, Paths.get(s"$root/in/$name"))
      new TableIO(tmp).deleteAll()
    }
    writeFlat(1000, 1500, "f1.parquet")
    writeFlat(1500, 2000, "f2.parquet")
    val q = IncrementalIndexer.start(
      spark, s"$root/in", idxDir, s"$root/ckpt", cfg)
    q.processAllAvailable()
    q.stop()

    // reference: one-shot batch build over the union corpus
    val refDir = s"$root/idx-ref"
    WebIndex.build(spark, docsRange(0, 2000), refDir, cfg)

    assert(scores(idxDir) === scores(refDir))

    // stats merged exactly (committed union view)
    val io = new TableIO(idxDir)
    val a = IndexTables.corpusStats(io)
    val b = IndexTables.corpusStats(new TableIO(refDir))
    assert(a.n_docs === b.n_docs)
    assert(a.total_dl === b.total_dl)
    assert(a.avgdl === b.avgdl)

    // replaying an already-committed batch is a no-op
    val before = IndexTables.docLens(spark, io).count()
    IncrementalIndexer.ingestBatch(spark, docsRange(1000, 1500), idxDir, 0L, cfg)
    assert(IndexTables.docLens(spark, io).count() === before)

    // crash-replay: simulate a failure AFTER the segment writes but BEFORE
    // the manifest commit by ingesting a further batch and pointing CURRENT
    // back at the snapshot before it — what a crash before the atomic
    // commit leaves: the previous snapshot's steps AND properties. The
    // segment is invisible while uncommitted, and the replay overwrites it
    // — no double counting anywhere.
    val statsBefore = IndexTables.corpusStats(io)
    val (snapBefore, maxBefore) = (io.currentSnapshotId().get, io.prop("max_doc_id"))
    IncrementalIndexer.ingestBatch(spark, docsRange(2000, 2500), idxDir, 100L, cfg)
    val committedStats = IndexTables.corpusStats(io)
    val committedMax = io.prop("max_doc_id")
    assert(committedStats.n_docs === statsBefore.n_docs + 500)
    Files.writeString(Paths.get(idxDir, "_snapshot", "CURRENT"), snapBefore)
    assert(!io.committedSteps().contains("stream_g100"))
    val retracted = IndexTables.corpusStats(io)
    assert(retracted.n_docs === statsBefore.n_docs) // segment invisible
    assert(retracted.total_dl === statsBefore.total_dl)
    assert(io.prop("max_doc_id") === maxBefore)
    IncrementalIndexer.ingestBatch(spark, docsRange(2000, 2500), idxDir, 100L, cfg)
    val replayed = IndexTables.corpusStats(io)
    assert(replayed.n_docs === committedStats.n_docs)
    assert(replayed.total_dl === committedStats.total_dl)
    assert(io.prop("max_doc_id") === committedMax)
    assert(IndexTables.docLens(spark, io).count() === before + 500)

    // the index advertises streamed groups (searcher switches to safe bounds)
    assert(new TableIO(idxDir).committedSteps().exists(_.startsWith("stream_")))
    assert(!Searcher.tightBoundsOf(new TableIO(idxDir)))
  }

  test("compaction collapses cross-batch re-crawls LWW and re-tightens bounds") {
    val croot = s"$root-compact"
    new TableIO(croot).deleteAll()
    Files.createDirectories(Paths.get(croot))
    val idxDir = s"$croot/idx"

    // base: docs [0, 1000). batch: docs [1000, 1250) RE-CRAWLING urls of
    // docs [0, 250) at later warc_ts (ts grows with doc id) + fresh docs
    // [1250, 1500).
    WebIndex.build(spark, docsRange(0, 1000), idxDir, cfg)
    import spark.implicits._
    val big = StreamSpec.Big
    val batch: DataFrame = spark.range(1000, 1500, 1, 4).mapPartitions(_.map { j =>
      val r = WebtextGen.rowFor(j, big)
      if (j < 1250) r.copy(url = WebtextGen.urlFor(j - 1000, big)) else r
    }).toDF()
    IncrementalIndexer.ingestBatch(spark, batch, idxDir, 0L, cfg)

    // pre-compaction: the re-crawled urls exist twice (documented append
    // semantics), bounds are stale
    val io0 = new TableIO(idxDir)
    assert(IndexTables.docMap(spark, io0).count() === 1500)
    assert(!Searcher.tightBoundsOf(io0))

    assert(Compactor.compact(spark, idxDir, cfg))

    // post-compaction: one doc per url, later batch won
    val io = new TableIO(idxDir)
    assert(IndexTables.activeBatches(io).isEmpty)
    assert(Searcher.tightBoundsOf(io))
    assert(IndexTables.docMap(spark, io).count() === 1250)
    assert(io.committedSteps().contains("stream_g0")) // replay marker survives
    // a replayed pre-compaction batch is still a no-op
    IncrementalIndexer.ingestBatch(spark, batch, idxDir, 0L, cfg)
    assert(IndexTables.docMap(spark, io).count() === 1250)

    // score-identical to a one-shot LWW build over the same raw rows
    val refDir = s"$croot/idx-ref"
    WebIndex.build(spark, docsRange(0, 1000).unionByName(batch), refDir, cfg)
    assert(scores(idxDir) === scores(refDir))

    // idempotent re-run: nothing active → no-op
    assert(!Compactor.compact(spark, idxDir, cfg))

    // streaming continues after compaction: a later batch appends cleanly
    IncrementalIndexer.ingestBatch(spark, docsRange(2000, 2200), idxDir, 5L, cfg)
    assert(IndexTables.docMap(spark, new TableIO(idxDir)).count() === 1450)
    assert(IndexTables.activeBatches(new TableIO(idxDir)) === Seq(5L))
  }
}

object StreamSpec {
  val Big = 1000000L
}

/** Compactor crash-recovery: the swap is two renames; a crash between them
  * leaves live absent — recovery must adopt a COMPLETE side build and fall
  * back to the original otherwise. */
class CompactorRecoverySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val cfg = PostingsBuilder.Config(shardSize = 256)
  private def root = s"${sys.props("user.dir")}/target/test-compact-recover"
  private def docsRange(lo: Long, hi: Long) = {
    import spark.implicits._
    val big = StreamSpec.Big
    spark.range(lo, hi, 1, 4).mapPartitions(_.map(i =>
      WebtextGen.rowFor(i, big))).toDF()
  }

  test("interrupted swap with an INCOMPLETE side build restores the original") {
    new TableIO(root).deleteAll()
    val idx = s"$root/a"
    WebIndex.build(spark, docsRange(0, 300), idx, cfg)
    val n0 = spark.read.parquet(s"$idx/doc_map").count()
    // crash state: live moved aside, side build half-written (no manifest)
    Files.move(Paths.get(idx), Paths.get(s"$idx.old"))
    Files.createDirectories(Paths.get(s"$idx.compact/postings"))
    assert(!Compactor.compact(spark, idx, cfg)) // nothing active after recovery
    assert(Files.exists(Paths.get(idx)) && !Files.exists(Paths.get(s"$idx.old")))
    assert(spark.read.parquet(s"$idx/doc_map").count() === n0)
    assert(Searcher.search(spark, idx, Seq(1 -> "w1 w2"), 5).count() > 0)
  }

  test("interrupted swap with a COMPLETE side build adopts it") {
    val idx = s"$root/b"
    new TableIO(idx).deleteAll()
    new TableIO(s"$idx.compact").deleteAll()
    WebIndex.build(spark, docsRange(0, 300), idx, cfg) // the pre-compact index
    WebIndex.build(spark, docsRange(0, 500), s"$idx.compact", cfg) // finished rebuild
    Files.move(Paths.get(idx), Paths.get(s"$idx.old"))
    assert(!Compactor.compact(spark, idx, cfg))
    assert(Files.exists(Paths.get(idx)) && !Files.exists(Paths.get(s"$idx.old")))
    assert(!Files.exists(Paths.get(s"$idx.compact")))
    // the adopted index is the 500-doc rebuild
    assert(spark.read.parquet(s"$idx/doc_map").count() === 500)
  }

  test("mid-swap crash: a plain Searcher.open (no compaction) recovers and serves") {
    // ADVICE r2: recovery must run at EVERY entry, not only inside
    // compact() — an index left in the between-renames window would
    // otherwise be unopenable until someone happened to compact it again.
    val idx = s"$root/c"
    new TableIO(idx).deleteAll()
    new TableIO(s"$idx.compact").deleteAll()
    WebIndex.build(spark, docsRange(0, 300), idx, cfg)
    WebIndex.build(spark, docsRange(0, 500), s"$idx.compact", cfg)
    Files.move(Paths.get(idx), Paths.get(s"$idx.old"))
    // no compact() — the serving path itself must finish the swap
    val hits = Searcher.search(spark, idx, Seq(1 -> "w1 w2"), 5)
    assert(hits.count() > 0)
    assert(Files.exists(Paths.get(idx)) && !Files.exists(Paths.get(s"$idx.old")))
    assert(spark.read.parquet(s"$idx/doc_map").count() === 500)
  }

  test("post-swap crash leaves a stale .old: recovery deletes it, compaction unblocks") {
    // ADVICE r2: a crash after the second rename but before the old-tree
    // delete leaves '<dir>.old' next to a live index; the next compact()'s
    // Files.move(live, old, ATOMIC_MOVE) would fail on the non-empty
    // target forever. Recovery treats .old-next-to-live as garbage.
    val idx = s"$root/d"
    new TableIO(idx).deleteAll()
    new TableIO(s"$idx.old").deleteAll()
    WebIndex.build(spark, docsRange(0, 300), idx, cfg)
    // an active streamed segment so compact() actually runs a swap
    IncrementalIndexer.ingestBatch(spark, docsRange(1000, 1100), idx, 0L, cfg)
    // stale garbage from a previous post-swap crash
    Files.createDirectories(Paths.get(s"$idx.old/postings"))
    Files.writeString(Paths.get(s"$idx.old/postings/junk"), "stale")
    assert(Compactor.compact(spark, idx, cfg)) // must not be blocked
    assert(!Files.exists(Paths.get(s"$idx.old")))
    assert(spark.read.parquet(s"$idx/doc_map").count() === 400)
    assert(Searcher.search(spark, idx, Seq(1 -> "w1 w2"), 5).count() > 0)
  }
}
