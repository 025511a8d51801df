package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.Success
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat, lit}
import org.apache.spark.sql.graftbridge.{Bridge, CachedBlocks}
import org.scalatest.funsuite.AnyFunSuite

import graft.harness.{QuerySet, TextQueries}
import graft.index.{IndexTables, PostingsBuilder}
import graft.io.TableIO
import graft.query.Searcher
import graft.streaming.IncrementalIndexer
import graft.web.{WebIndex, WebtextGen}

/** A handle serves through a lineage-free view of its cached shard RDD. A
  * view task whose block is gone (evicted, or lost with an executor)
  * recomputes it from open's lineage and caches it again: dropping every
  * cached block changes no row, fails no task, and leaves each
  * shard-holding block cached again. */
class ResidentViewSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val cfg = PostingsBuilder.Config(shardSize = 128)

  // QuerySet hits the sf0.001 documents, the w-terms the generated pages
  private val queries = QuerySet.queries ++ Seq(21 -> "w1 w2 w3", 22 -> "w5 w11 join")

  /** A fresh index of the sf0.001 documents, keyed by a synthetic url. */
  private def base(name: String): String = {
    val d = s"${sys.props("user.dir")}/target/test-idx/resident-view-$name"
    new TableIO(d).deleteAll()
    val docs = TextQueries.docs(spark, "/root/testdata/sf0.001").select(
      concat(lit("doc-"), col("doc_id").cast("string")).as("url"), col("text"))
    WebIndex.buildFromCorpus(spark, docs, d, cfg)
    d
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq)

  /** Drops every cached block of `h`'s shards, then serves [[queries]]. */
  private def recovers(h: Searcher.Handle): Unit = {
    val sc = spark.sparkContext
    val (id, n) = (h.shards.sourceId, h.shards.getNumPartitions)
    val want = rows(Searcher.search(h, queries, QuerySet.K))
    assert(want.nonEmpty)
    val holding = h.shards.mapPartitionsWithIndex((i, it) =>
      if (it.hasNext) Iterator(i) else Iterator.empty).collect().toSeq
    assert(CachedBlocks.of(sc, id, n) === (0 until n))
    CachedBlocks.drop(sc, id)
    assert(CachedBlocks.of(sc, id, n).isEmpty)
    val failed = new AtomicInteger
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.reason != Success) failed.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      assert(rows(Searcher.search(h, queries, QuerySet.K)) === want)
      Bridge.drainListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    assert(failed.get === 0)
    // the serving job ran one task per shard-holding partition, each of
    // which cached its block again; the next search reads those blocks
    assert(CachedBlocks.of(sc, id, n) === holding)
    assert(rows(Searcher.search(h, queries, QuerySet.K)) === want)
  }

  test("an unshuffled base handle recomputes and re-caches dropped shard blocks") {
    val h = Searcher.open(spark, base("base"))
    try recovers(h) finally h.close()
  }

  test("a shuffle-open handle with an active segment recomputes and re-caches dropped shard blocks") {
    import spark.implicits._
    val d = base("segment")
    val pages = spark.range(0, 200, 1, 4).mapPartitions(_.map(i =>
      WebtextGen.rowFor(i, StreamSpec.Big))).toDF()
    IncrementalIndexer.ingestBatch(spark, pages, d, 0L, cfg)
    assert(IndexTables.activeBatches(new TableIO(d)) === Seq(0L))
    val h = Searcher.open(spark, d)
    try recovers(h) finally h.close()
  }
}
