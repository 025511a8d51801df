package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.WebDoc
import graft.web.WebtextGen

/** Seeded input_hint rows (url, warc_ts, html, text, lang).
  *
  * The text follows the same Zipf(s≈1) vocabulary as `WebtextGen` (and
  * reuses its `word` and `htmlFor` helpers, so the HTML the extractor sees
  * has the same shape), but every random draw is keyed by the benchmark
  * seed instead of WebtextGen's fixed one.
  *
  * Doc ids `[0, nBase)` form the base crawl: about 10% of its second half
  * re-crawls a url of the first half. Ids at or past `nBase` are later
  * ingest batches: about 20% of them re-crawl a base url. `warc_ts` grows
  * with the id, so for every url the row with the largest id is the one
  * last-write-wins keeps, both in a batch build and across compaction. */
final case class Corpus(seed: Long, nBase: Long) {
  import Corpus._

  private def unit(x: Long): Double = (mix(seed ^ x) >>> 11).toDouble / (1L << 53)

  def text(id: Long): String = {
    val base = id * 1000003L
    val n = 50 + (math.abs(mix(seed ^ (base + 1))) % 151).toInt
    val sb = new StringBuilder
    var j = 0
    while (j < n) {
      if (j > 0) sb.append(' ')
      sb.append(WebtextGen.word(zipfRank(unit(base + 10 + j))))
      j += 1
    }
    sb.toString
  }

  def url(id: Long): String = {
    val target =
      if (id < nBase) {
        if (id >= nBase / 2 && unit(id * 31L) < 0.1) id % (nBase / 2) else id
      } else if (unit(id * 37L) < 0.2) math.abs(mix(seed ^ (id * 41L))) % nBase
      else id
    s"https://host${target % 1000}.example/p$target"
  }

  def row(id: Long): WebDoc = {
    val t = text(id)
    WebDoc(url(id), new Timestamp(1704067200000L + id * 1000L),
      WebtextGen.htmlFor(id, t), t,
      WebtextGen.Langs((math.abs(mix(seed ^ (id * 77L))) % WebtextGen.Langs.length).toInt))
  }

  /** Rows for ids `[lo, hi)`. */
  def rows(spark: SparkSession, lo: Long, hi: Long, partitions: Int): DataFrame = {
    import spark.implicits._
    val c = this
    spark.range(lo, hi, 1L, partitions).mapPartitions(_.map(i => c.row(i))).toDF()
  }

  /** Rows for ids `[lo, lo + n * size)` with a `batch` column: batch b
    * holds ids `[lo + b * size, lo + (b + 1) * size)`. */
  def batches(spark: SparkSession, lo: Long, size: Long, n: Int, partitions: Int): DataFrame = {
    import spark.implicits._
    val c = this
    spark.range(lo, lo + n * size, 1L, partitions)
      .mapPartitions(_.map(i => (((i - lo) / size).toInt, c.row(i))))
      .select($"_1".as("batch"), $"_2.*")
  }

  /** UTF-8 bytes of the texts of ids `[lo, hi)`. */
  def textBytes(lo: Long, hi: Long): Long =
    (lo until hi).iterator.map(i => text(i).getBytes("UTF-8").length.toLong).sum

  /** The last-write-wins truth over ids `[0, hi)`, derived from the
    * generator alone: (url, text) of the largest id per url. */
  def liveDocs(hi: Long): Seq[(String, String)] = {
    val last = scala.collection.mutable.HashMap.empty[String, Long]
    (0L until hi).foreach(i => last(url(i)) = i)
    last.toSeq.sortBy(_._2).map { case (u, i) => (u, text(i)) }
  }

  /** Seeded query stream: `n` queries of 2-5 distinct terms, each term drawn
    * from the corpus's own Zipf distribution. */
  def queries(n: Int, salt: Long = 0L): IndexedSeq[(Int, String)] =
    (0 until n).map { q =>
      val key = (salt + q + 1) * 0x2545F4914F6CDD1DL
      val len = 2 + (math.abs(mix(seed ^ key)) % 4).toInt
      val ranks = Iterator.from(0).map(j => zipfRank(unit(key + 7 + j))).distinct.take(len)
      (q + 1) -> ranks.map(WebtextGen.word).mkString(" ")
    }
}

object Corpus {
  def mix(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def zipfRank(u: Double): Int =
    math.min(WebtextGen.VocabSize - 1,
      math.exp(u * math.log(WebtextGen.VocabSize.toDouble)).toInt)
}
