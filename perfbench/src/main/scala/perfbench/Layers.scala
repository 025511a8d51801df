package perfbench

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.analysis.Analyzer
import graft.index.{Codec, IndexTables}
import graft.io.TableIO
import graft.model.PostingBlock
import graft.query.{BlockMaxWand, Bm25, Searcher}

/** Single-thread measurements of one layer at a time, outside Spark jobs:
  * each repeats a public call over sampled inputs for a fixed wall budget. */
object Layers {
  private val BudgetNs = 300L * 1000 * 1000

  /** Repeats `pass` (which returns the units it processed) for the budget
    * after one warm-up pass; returns units per second. */
  private def rate(pass: () => Long): Double = {
    pass()
    var units = 0L
    val t0 = System.nanoTime()
    var dt = 0L
    while (dt < BudgetNs) { units += pass(); dt = System.nanoTime() - t0 }
    units / (dt / 1e9)
  }

  /** `Analyzer.analyzeStopCounts` throughput over the texts, MB/s. */
  def analyzeMbPerS(texts: Seq[String]): Double = {
    val bytes = texts.map(_.length.toLong).sum
    rate { () => texts.foreach(Analyzer.analyzeStopCounts); bytes } / 1048576.0
  }

  /** Mean `Analyzer.analyzeStop` time per query string, µs. */
  def queryAnalyzeUs(queries: Seq[String]): Double =
    1e6 / rate { () => queries.foreach(Analyzer.analyzeStop); queries.size.toLong }

  /** `Codec` docID + tf block encode and decode rates over up to `limit`
    * stored blocks of the index, millions of postings per second. */
  def codecMPostingsPerS(spark: SparkSession, indexDir: String,
                         limit: Int = 4000): (Double, Double) = {
    val blocks = spark.read.parquet(new TableIO(indexDir).tablePath("postings"))
      .select("n", "doc_ids", "tfs").limit(limit).collect()
      .map(r => (r.getInt(0), r.getAs[Array[Byte]](1), r.getAs[Array[Byte]](2)))
    val postings = blocks.map(_._1.toLong).sum
    val decoded = blocks.map { case (n, d, t) => (Codec.decodeDocIds(d, n), Codec.decodeTfs(t, n)) }
    val enc = rate { () =>
      decoded.foreach { case (d, t) => Codec.encodeDocIds(d); Codec.encodeTfs(t) }; postings }
    val dec = rate { () =>
      blocks.foreach { case (n, d, t) => Codec.decodeDocIds(d, n); Codec.decodeTfs(t, n) }; postings }
    (enc / 1e6, dec / 1e6)
  }

  /** The WAND kernel alone: each query's blocks are collected per shard
    * and `BlockMaxWand.scoreShard` is timed over every shard (no shared
    * θ board). Returns per-query (kernel ms summed over shards, blocks). */
  def kernel(spark: SparkSession, h: Searcher.Handle, queries: Seq[String],
             k: Int): Seq[(Double, Long)] = {
    import spark.implicits._
    val postings = IndexTables.postings(spark, new TableIO(h.indexDir))
    queries.map { q =>
      val weights = Analyzer.analyzeStop(q).groupBy(identity).view.mapValues(_.length).toMap
      val dfs = Searcher.termDfs(h, weights.keys.toArray)
      val wq = BlockMaxWand.WandQuery(1, weights.toSeq.sortBy(_._1).collect {
        case (t, w) if dfs.contains(t) =>
          BlockMaxWand.QueryTerm(t, Bm25.idf(h.stats.n_docs, dfs(t)), w)
      }.toArray)
      val blocks = postings.where(col("term").isin(dfs.keys.toSeq: _*))
        .as[PostingBlock].collect()
      val shards = blocks.groupBy(_.doc_shard).values.map { bs =>
        bs.groupBy(_.term).map { case (t, tb) =>
          t -> (ArraySeq.unsafeWrapArray(tb.sortBy(_.first_doc_id)): IndexedSeq[PostingBlock])
        }
      }.toSeq
      shards.foreach(s => BlockMaxWand.scoreShard(wq, s, h.stats.avgdl, k, h.tightBounds))
      val t0 = System.nanoTime()
      shards.foreach(s => BlockMaxWand.scoreShard(wq, s, h.stats.avgdl, k, h.tightBounds))
      ((System.nanoTime() - t0) / 1e6, blocks.length.toLong)
    }
  }
}
