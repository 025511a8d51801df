package graft

import scala.jdk.CollectionConverters._

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.Analyzer
import graft.model.PostingBlock
import graft.query.{Bm25, Phrase}

/** Randomized exactness property for the span_near clause: random
  * multi-valued corpora (stopwords included → position gaps everywhere)
  * indexed through the REAL position pipeline, then a clause cursor under
  * the [[Phrase.OrderedSpan]] law, walked alone by the block-max WAND
  * kernel, must reproduce a brute-force scorer whose per-lead minimal
  * slopUsed comes from EXHAUSTIVE enumeration of ordered completions — so
  * the property simultaneously proves the law's greedy completion IS the
  * minimum, and that leapfrog/lazy-decode/block boundaries/θ pruning (with
  * and without a cross-shard θ board)/duplicate clauses/single-clause
  * degradation are exact. The [[Phrase.UnorderedSpan]] law gets the same
  * property against a set-wise recompute. */
class SpanNearPropertySpec extends AnyFunSuite {
  import PhrasePropertySpec.walk

  private def check(name: String, p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(res.passed, s"$name: ${res.status}")
  }

  private val vocab = Seq("aa", "bb", "cc", "dd", "the", "of")

  private val docGen: Gen[Seq[Seq[String]]] = for {
    nv <- Gen.chooseNum(1, 3)
    vals <- Gen.listOfN(nv, Gen.listOf(Gen.oneOf(vocab)).map(_.take(8)))
  } yield vals

  private val corpusGen: Gen[Seq[Seq[Seq[String]]]] = for {
    n <- Gen.chooseNum(1, 40)
    docs <- Gen.listOfN(n, docGen)
  } yield docs

  private val queryGen: Gen[String] =
    Gen.nonEmptyListOf(Gen.oneOf(vocab)).map(_.take(3).mkString(" "))

  // slops straddling adjacency, small proximity, and the value gap (100)
  private val slopGen: Gen[Int] = Gen.oneOf(0, 1, 2, 5, 99, 100, 105)

  private def analyzed(doc: Seq[Seq[String]])
      : (Int, Map[String, (Int, Array[Int])]) = {
    val (dl, accs) = Analyzer.chainCountsPos(Analyzer.TextStop,
      doc.iterator.map(_.mkString(" ")))
    (dl, accs.entrySet().asScala
      .map(e => e.getKey -> ((e.getValue.tf, e.getValue.positions))).toMap)
  }

  /** Exhaustive minimal end position over ordered completions past `prev`
    * (Int.MaxValue when none) — deliberately NOT the kernel's greedy. */
  private def minEnd(pos: Array[Array[Int]], j: Int, prev: Int): Int =
    if (j == pos.length) prev
    else pos(j).iterator.filter(_ > prev)
      .map(p => minEnd(pos, j + 1, p))
      .foldLeft(Int.MaxValue)(_ min _)

  private def brute(corpus: Seq[Seq[Seq[String]]], raw: String, slop: Int,
      k: Int): Seq[(Long, Long)] = {
    val ts = Analyzer.analyzeChain(Analyzer.TextStop, raw)
    if (ts.isEmpty) return Nil
    val docs = corpus.map(analyzed)
    val n = docs.length.toLong
    val df = ts.distinct.map(t =>
      t -> docs.count(_._2.contains(t)).toLong).toMap
    if (ts.exists(t => df(t) == 0)) return Nil
    val avgdl = if (n == 0) 0.0 else docs.map(_._1).sum.toDouble / n
    val sumIdf = ts.iterator.map(t => Bm25.idf(n, df(t))).sum
    docs.zipWithIndex.flatMap { case ((dl, terms), id) =>
      if (ts.exists(t => !terms.contains(t))) None
      else {
        val pos: Array[Array[Int]] = ts.map(t => terms(t)._2)
        var fx6 = 0L
        pos(0).foreach { p0 =>
          val end = minEnd(pos, 1, p0)
          if (end != Int.MaxValue) {
            val sl = (end - p0 + 1) - pos.length
            if (sl <= slop) fx6 += math.round(1e6 / (1 + sl))
          }
        }
        if (fx6 == 0) None
        else Some((id.toLong, math.round(
          sumIdf * Bm25.tfNorm(fx6 / 1e6, dl.toDouble, avgdl) * 1e6)))
      }
    }.sortBy { case (id, x6) => (-x6, id) }.take(k)
  }

  private def kernel(corpus: Seq[Seq[Seq[String]]], raw: String, slop: Int,
      k: Int, shardSize: Int, blockSize: Int, inOrder: Boolean,
      shared: Boolean): Seq[(Long, Long)] = {
    val ts = Analyzer.analyzeChain(Analyzer.TextStop, raw)
    if (ts.isEmpty) return Nil
    val docs = corpus.map(analyzed)
    val n = docs.length.toLong
    val df = ts.distinct.map(t =>
      t -> docs.count(_._2.contains(t)).toLong).toMap
    if (ts.exists(t => df(t) == 0)) return Nil
    val avgdl = if (n == 0) 0.0 else docs.map(_._1).sum.toDouble / n
    val sumIdf = ts.iterator.map(t => Bm25.idf(n, df(t))).sum

    val rows = docs.zipWithIndex.flatMap { case ((dl, terms), id) =>
      terms.toSeq.sortBy(_._1).map { case (t, (tf, pos)) =>
        TfRow(id / shardSize, t, id.toLong, tf, dl, pos)
      }
    }
    val byShard: Map[Int, Map[String, Array[PostingBlock]]] =
      rows.groupBy(_.doc_shard).map { case (shard, rs) =>
        val sorted = rs.sortBy(r => (r.term, r.doc_id))
        val blocks = ReferenceEncoder.encodePartition(avgdl, blockSize)(
          sorted.iterator).toIndexedSeq
        shard -> blocks.groupBy(_.term).view
          .mapValues(_.sortBy(_.block_id).toArray).toMap
      }
    val law =
      if (inOrder) Phrase.OrderedSpan(slop)
      else Phrase.UnorderedSpan(slop, ts.map(ts.distinct.indexOf(_)))
    walk(byShard, ts.map(Array(_)), law, sumIdf, avgdl, k, shared)
  }

  test("span_near kernel == exhaustive-minimum ordered-span scorer") {
    val p = Prop.forAll(corpusGen, queryGen, slopGen, Gen.oneOf(1, 3, 10),
      Gen.oneOf(3, 8, 64), Gen.oneOf(2, 4)) {
      (corpus, raw, slop, k, shardSize, blockSize) =>
        val expected = brute(corpus, raw, slop, k)
        expected == kernel(corpus, raw, slop, k, shardSize, blockSize,
          inOrder = true, shared = false) &&
          expected == kernel(corpus, raw, slop, k, shardSize, blockSize,
            inOrder = true, shared = true)
    }
    check("span-near-exactness", p)
  }

  // ---- unordered (in_order: false) ----------------------------------------

  /** Set-wise recompute of the anchored-window law from the analyzed maps
    * (no iterators, no blocks): every clause occurrence anchors a window of
    * each other clause's first position ≥ it — strictly past it for a
    * clause sharing the anchor's term (distinct-occurrences rule). */
  private def bruteUnordered(corpus: Seq[Seq[Seq[String]]], raw: String,
      slop: Int, k: Int): Seq[(Long, Long)] = {
    val ts = Analyzer.analyzeChain(Analyzer.TextStop, raw)
    if (ts.isEmpty) return Nil
    val docs = corpus.map(analyzed)
    val n = docs.length.toLong
    val df = ts.distinct.map(t =>
      t -> docs.count(_._2.contains(t)).toLong).toMap
    if (ts.exists(t => df(t) == 0)) return Nil
    val avgdl = if (n == 0) 0.0 else docs.map(_._1).sum.toDouble / n
    val sumIdf = ts.iterator.map(t => Bm25.idf(n, df(t))).sum
    docs.zipWithIndex.flatMap { case ((dl, terms), id) =>
      if (ts.exists(t => !terms.contains(t))) None
      else {
        val pos: Array[Array[Int]] = ts.map(t => terms(t)._2)
        var fx6 = 0L
        for (c <- pos.indices; p <- pos(c)) {
          val mins = pos.indices.filter(_ != c)
            .map(j => pos(j).find(q => if (ts(j) == ts(c)) q > p else q >= p))
          if (mins.forall(_.isDefined)) {
            val hi = (p +: mins.map(_.get)).max
            val sl = math.max(0, (hi - p + 1) - pos.length)
            if (sl <= slop) fx6 += math.round(1e6 / (1 + sl))
          }
        }
        if (fx6 == 0) None
        else Some((id.toLong, math.round(
          sumIdf * Bm25.tfNorm(fx6 / 1e6, dl.toDouble, avgdl) * 1e6)))
      }
    }.sortBy { case (id, x6) => (-x6, id) }.take(k)
  }

  test("unordered span_near kernel == set-wise anchored-window scorer") {
    val p = Prop.forAll(corpusGen, queryGen, slopGen, Gen.oneOf(1, 3, 10),
      Gen.oneOf(3, 8, 64), Gen.oneOf(2, 4)) {
      (corpus, raw, slop, k, shardSize, blockSize) =>
        val expected = bruteUnordered(corpus, raw, slop, k)
        expected == kernel(corpus, raw, slop, k, shardSize, blockSize,
          inOrder = false, shared = false) &&
          expected == kernel(corpus, raw, slop, k, shardSize, blockSize,
            inOrder = false, shared = true)
    }
    check("span-near-unordered-exactness", p)
  }
}
