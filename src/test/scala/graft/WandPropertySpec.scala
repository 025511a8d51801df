package graft

import java.util.concurrent.atomic.AtomicLong

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.model.PostingBlock
import graft.query.{BlockMaxWand, Bm25}
import graft.query.BlockMaxWand.{QueryTerm, WandQuery}

/** Randomized exactness property for the block-max WAND kernel (pure JVM,
  * no Spark): tiny corpora with tiny shard/block sizes put block
  * boundaries, score ties, one-posting blocks, and exhausted-cursor edges
  * everywhere — the degenerate geometry the corpus-level rank-identity
  * tests rarely produce. WAND (with AND without a shared θ board) must
  * reproduce the brute-force BM25 top-k EXACTLY under the deterministic
  * ordering (micro-rounded score desc, doc_id asc). */
class WandPropertySpec extends AnyFunSuite {

  private def check(name: String, p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(res.passed, s"$name: ${res.status}")
  }

  private val vocab = ('a' to 'j').map(_.toString)

  // corpus: docId -> term -> tf (docs with zero tokens allowed)
  private val corpusGen: Gen[Seq[Map[String, Int]]] = for {
    n <- Gen.chooseNum(1, 60)
    docs <- Gen.listOfN(n, Gen.listOf(Gen.oneOf(vocab)).map(
      _.groupBy(identity).view.mapValues(_.length).toMap))
  } yield docs

  private val queryGen: Gen[List[String]] =
    Gen.nonEmptyListOf(Gen.oneOf(vocab)).map(_.take(4))

  private def encodeShards(corpus: Seq[Map[String, Int]], shardSize: Int,
      blockSize: Int, avgdl: Double)
      : Map[Int, Map[String, IndexedSeq[PostingBlock]]] = {
    val dls = corpus.map(_.values.sum)
    val rows = for {
      (doc, id) <- corpus.zipWithIndex
      (term, tf) <- doc.toSeq.sortBy(_._1)
    } yield TfRow(id / shardSize, term, id.toLong, tf, dls(id))
    rows.groupBy(_.doc_shard).map { case (shard, rs) =>
      val sorted = rs.sortBy(r => (r.term, r.doc_id))
      val blocks = ReferenceEncoder.encodePartition(avgdl, blockSize)(
        sorted.iterator).toIndexedSeq
      shard -> blocks.groupBy(_.term).view.mapValues(_.sortBy(_.block_id)
        .toIndexedSeq).toMap
    }
  }

  private def brute(corpus: Seq[Map[String, Int]], query: List[String],
      k: Int, avgdl: Double): Seq[(Long, Long)] = {
    val n = corpus.length.toLong
    val df = vocab.map(t => t -> corpus.count(_.contains(t)).toLong).toMap
    val weights = query.groupBy(identity).view.mapValues(_.length).toMap
    val dls = corpus.map(_.values.sum)
    corpus.zipWithIndex.flatMap { case (doc, id) =>
      val s = weights.collect {
        case (t, w) if doc.contains(t) && df(t) > 0 =>
          w * Bm25.idf(n, df(t)) *
            Bm25.tfNorm(doc(t).toDouble, dls(id).toDouble, avgdl)
      }.sum
      if (s > 0.0) Some((id.toLong, math.round(s * 1e6))) else None
    }.sortBy { case (id, x6) => (-x6, id) }.take(k)
  }

  private def wandTopK(corpus: Seq[Map[String, Int]], query: List[String],
      k: Int, shardSize: Int, blockSize: Int, avgdl: Double,
      shared: Boolean, tight: Boolean): Seq[(Long, Long)] = {
    val n = corpus.length.toLong
    val df = vocab.map(t => t -> corpus.count(_.contains(t)).toLong).toMap
    val weights = query.groupBy(identity).view.mapValues(_.length).toMap
    val terms = weights.toSeq.sortBy(_._1).collect {
      case (t, w) if df(t) > 0 => QueryTerm(t, Bm25.idf(n, df(t)), w)
    }.toArray
    val q = WandQuery(1, terms)
    val board = if (shared) new AtomicLong(Long.MinValue) else null
    val shards = encodeShards(corpus, shardSize, blockSize, avgdl)
    shards.toSeq.sortBy(_._1).flatMap { case (_, byTerm) =>
      val hits = BlockMaxWand.scoreShard(q, byTerm, avgdl, k, tight, board)
      hits.map { case (doc, s) => (doc, math.round(s * 1e6)) }
    }.sortBy { case (id, x6) => (-x6, id) }.take(k)
  }

  test("WAND == brute-force BM25 top-k on random tiny corpora (all geometries)") {
    val p = Prop.forAll(corpusGen, queryGen, Gen.oneOf(1, 3, 10),
      Gen.oneOf(3, 7, 64), Gen.oneOf(2, 4)) {
      (corpus, query, k, shardSize, blockSize) =>
        val totalDl = corpus.map(_.values.sum).sum
        val avgdl =
          if (corpus.isEmpty || totalDl == 0) 1.0
          else totalDl.toDouble / corpus.length
        val expected = brute(corpus, query, k, avgdl)
        val plain = wandTopK(corpus, query, k, shardSize, blockSize, avgdl,
          shared = false, tight = true)
        val withBoard = wandTopK(corpus, query, k, shardSize, blockSize,
          avgdl, shared = true, tight = true)
        // safe-bounds mode (streamed-append fallback) must stay exact too
        val safeBounds = wandTopK(corpus, query, k, shardSize, blockSize,
          avgdl, shared = true, tight = false)
        plain == expected && withBoard == expected && safeBounds == expected
    }
    check("wand-exactness", p)
  }
}
