package graft

import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ArraySeq
import scala.jdk.CollectionConverters._

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.Analyzer
import graft.model.PostingBlock
import graft.query.{BlockMaxWand, Bm25, Phrase}
import graft.query.BlockMaxWand.PhraseCursor

/** Randomized exactness property for the phrase clause: random multi-valued
  * corpora (stopwords included, so position gaps and the multi-value
  * increment gap appear everywhere) indexed through the REAL position
  * pipeline (chainCountsPos → TfRow.pos → block codec), then a
  * [[PhraseCursor]] under the [[Phrase.Aligned]] law, walked alone by the
  * block-max WAND kernel, must reproduce a brute-force alignment scorer
  * exactly under the deterministic ordering — leapfrog, lazy position
  * decode, block boundaries, θ pruning with and without a cross-shard θ
  * board, repeated phrase terms, and single-term phrases all land in the
  * same property. */
class PhrasePropertySpec extends AnyFunSuite {
  import PhrasePropertySpec.walk

  private def check(name: String, p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(res.passed, s"$name: ${res.status}")
  }

  // "the"/"of" are _english_ stopwords → dropped with gaps kept
  private val vocab = Seq("aa", "bb", "cc", "dd", "the", "of")

  /** doc = values = token lists; rendered as space-joined strings. */
  private def corpusGenOf(v: Seq[String]): Gen[Seq[Seq[Seq[String]]]] = {
    val docGen: Gen[Seq[Seq[String]]] = for {
      nv <- Gen.chooseNum(1, 3)
      vals <- Gen.listOfN(nv, Gen.listOf(Gen.oneOf(v)).map(_.take(8)))
    } yield vals
    for {
      n <- Gen.chooseNum(1, 40)
      docs <- Gen.listOfN(n, docGen)
    } yield docs
  }

  private val corpusGen = corpusGenOf(vocab)

  private val phraseGen: Gen[String] =
    Gen.nonEmptyListOf(Gen.oneOf(vocab)).map(_.take(3).mkString(" "))

  /** Per-doc analysis through the real chain (dl, term → (tf, positions)). */
  private def analyzed(doc: Seq[Seq[String]])
      : (Int, Map[String, (Int, Array[Int])]) = {
    val (dl, accs) = Analyzer.chainCountsPos(Analyzer.TextStop,
      doc.iterator.map(_.mkString(" ")))
    (dl, accs.entrySet().asScala
      .map(e => e.getKey -> ((e.getValue.tf, e.getValue.positions))).toMap)
  }

  private def brute(corpus: Seq[Seq[Seq[String]]], phrase: String, k: Int)
      : Seq[(Long, Long)] = {
    val occs = Analyzer.analyzeChainPos(Analyzer.TextStop, phrase)
    if (occs.isEmpty) return Nil
    val docs = corpus.map(analyzed)
    val n = docs.length.toLong
    val df = occs.map(_._1).distinct.map(t =>
      t -> docs.count(_._2.contains(t)).toLong).toMap
    if (occs.exists(o => df(o._1) == 0)) return Nil
    val avgdl = if (n == 0) 0.0 else docs.map(_._1).sum.toDouble / n
    val sumIdf = occs.iterator.map(o => Bm25.idf(n, df(o._1))).sum
    val base = occs(0)._2
    docs.zipWithIndex.flatMap { case ((dl, terms), id) =>
      if (occs.exists(o => !terms.contains(o._1))) None
      else {
        val lead = terms(occs(0)._1)._2
        val pf = lead.count(s => occs.forall { case (t, p) =>
          terms(t)._2.contains(s + (p - base))
        })
        if (pf == 0) None
        else Some((id.toLong,
          math.round(sumIdf * Bm25.tfNorm(pf.toDouble, dl.toDouble, avgdl) * 1e6)))
      }
    }.sortBy { case (id, x6) => (-x6, id) }.take(k)
  }

  private def kernel(corpus: Seq[Seq[Seq[String]]], phrase: String, k: Int,
      shardSize: Int, blockSize: Int, shared: Boolean): Seq[(Long, Long)] = {
    val occs = Analyzer.analyzeChainPos(Analyzer.TextStop, phrase)
    if (occs.isEmpty) return Nil
    val docs = corpus.map(analyzed)
    val n = docs.length.toLong
    val df = occs.map(_._1).distinct.map(t =>
      t -> docs.count(_._2.contains(t)).toLong).toMap
    if (occs.exists(o => df(o._1) == 0)) return Nil
    val avgdl = if (n == 0) 0.0 else docs.map(_._1).sum.toDouble / n
    val sumIdf = occs.iterator.map(o => Bm25.idf(n, df(o._1))).sum

    // encode through the positions pipeline, sharded by doc_id
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
    walk(byShard, occs.map(o => Array(o._1)),
      Phrase.Aligned(occs.map(_._2 - occs(0)._2)), sumIdf, avgdl, k, shared)
  }

  test("phrase kernel == brute-force alignment scorer on random corpora") {
    val p = Prop.forAll(corpusGen, phraseGen, Gen.oneOf(1, 3, 10),
      Gen.oneOf(3, 8, 64), Gen.oneOf(2, 4)) {
      (corpus, phrase, k, shardSize, blockSize) =>
        val expected = brute(corpus, phrase, k)
        expected == kernel(corpus, phrase, k, shardSize, blockSize, shared = false) &&
          expected == kernel(corpus, phrase, k, shardSize, blockSize, shared = true)
    }
    check("phrase-exactness", p)
  }

  // ---- match_phrase_prefix (MultiPhrase kernel) ---------------------------

  /** Raw query = fixed tokens + a trailing prefix string. Both sides
    * analyze identically; the last ANALYZED occurrence expands over the
    * corpus dictionary (term order, capped) — a trailing stopword prefix
    * is dropped by the chain, making an earlier token the expanded one
    * (the engine's rule), and a prefix matching only stopwords expands to
    * nothing (stopwords never reach the dictionary). */
  private val prefixGen: Gen[String] =
    Gen.oneOf("a", "aa", "ab", "b", "bb", "c", "cc", "d", "dd", "t", "th",
      "the", "o", "of")

  /** The phrase vocabulary plus terms sharing the prefixes "a"/"ab", so an
    * expanded last slot can hold several member terms (a union slot whose
    * merged positions can outnumber any one member's tf). */
  private val prefixVocab = vocab ++ Seq("ab", "abb")

  private val fixedGen: Gen[List[String]] =
    Gen.listOf(Gen.oneOf(prefixVocab)).map(_.take(2))

  /** (slots, sumIdf) under MultiPhrasePrefixQuery semantics, or None when
    * the query matches nothing by construction (absent fixed term / empty
    * expansion / analyzed-to-nothing). Shared by brute and kernel so the
    * property tests the KERNEL (union slots, merged positions, leapfrog),
    * not the trivial dictionary filter. */
  private def prefixQueryPlan(docs: Seq[(Int, Map[String, (Int, Array[Int])])],
      raw: String, maxExp: Int)
      : Option[(Array[(Array[String], Int)], Double)] = {
    val occs = Analyzer.analyzeChainPos(Analyzer.TextStop, raw)
    if (occs.isEmpty) return None
    val n = docs.length.toLong
    def df(t: String): Long = docs.count(_._2.contains(t)).toLong
    val fixed = occs.dropRight(1)
    if (fixed.exists(o => df(o._1) == 0)) return None
    val (lastTerm, lastPos) = occs.last
    val dict = docs.iterator.flatMap(_._2.keys).toSeq.distinct.sorted
    val exps = dict.filter(_.startsWith(lastTerm)).take(maxExp)
    if (exps.isEmpty) return None
    val slots: Array[(Array[String], Int)] =
      fixed.map { case (t, p) => (Array(t), p) } :+
        (exps.toArray, lastPos)
    val sumIdf =
      fixed.iterator.map(o => Bm25.idf(n, df(o._1))).sum +
        exps.iterator.map(t => Bm25.idf(n, df(t))).sum
    Some((slots, sumIdf))
  }

  private def brutePrefix(corpus: Seq[Seq[Seq[String]]], raw: String,
      k: Int, maxExp: Int): Seq[(Long, Long)] = {
    val docs = corpus.map(analyzed)
    prefixQueryPlan(docs, raw, maxExp) match {
      case None => Nil
      case Some((slots, sumIdf)) =>
        val n = docs.length.toLong
        val avgdl = if (n == 0) 0.0 else docs.map(_._1).sum.toDouble / n
        val base = slots(0)._2
        docs.zipWithIndex.flatMap { case ((dl, terms), id) =>
          // union positions per slot; conjunction requires every slot on-doc
          val slotPos: Array[Array[Int]] = slots.map { case (ts, _) =>
            ts.flatMap(t => terms.get(t).map(_._2).getOrElse(Array.empty[Int]))
              .distinct.sorted
          }
          if (slotPos.exists(_.isEmpty)) None
          else {
            val pf = slotPos(0).count(s => slots.indices.forall { j =>
              slotPos(j).contains(s + (slots(j)._2 - base))
            })
            if (pf == 0) None
            else Some((id.toLong, math.round(
              sumIdf * Bm25.tfNorm(pf.toDouble, dl.toDouble, avgdl) * 1e6)))
          }
        }.sortBy { case (id, x6) => (-x6, id) }.take(k)
    }
  }

  private def kernelPrefix(corpus: Seq[Seq[Seq[String]]], raw: String,
      k: Int, maxExp: Int, shardSize: Int, blockSize: Int,
      shared: Boolean): Seq[(Long, Long)] = {
    val docs = corpus.map(analyzed)
    prefixQueryPlan(docs, raw, maxExp) match {
      case None => Nil
      case Some((slots, sumIdf)) =>
        val n = docs.length.toLong
        val avgdl = if (n == 0) 0.0 else docs.map(_._1).sum.toDouble / n
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
        walk(byShard, slots.map(_._1),
          Phrase.Aligned(slots.map(_._2 - slots(0)._2)), sumIdf, avgdl, k,
          shared)
    }
  }

  test("multi-phrase (prefix) kernel == brute-force union-slot scorer") {
    val p = Prop.forAll(corpusGenOf(prefixVocab), fixedGen, prefixGen,
      Gen.oneOf(1, 3, 10), Gen.oneOf(1, 2, 50), Gen.oneOf(3, 8, 64)) {
      (corpus, fixed, prefix, k, maxExp, shardSize) =>
        val raw = (fixed :+ prefix).mkString(" ")
        val expected = brutePrefix(corpus, raw, k, maxExp)
        expected ==
          kernelPrefix(corpus, raw, k, maxExp, shardSize, 2, shared = false) &&
          expected ==
          kernelPrefix(corpus, raw, k, maxExp, shardSize, 2, shared = true)
    }
    check("multi-phrase-prefix-exactness", p)
  }
}

object PhrasePropertySpec {
  /** Walk one clause over each shard's blocks (absent terms = no blocks)
    * with the production kernel; one θ board shared by every shard when
    * `shared`. Returns the merged top-k as (doc_id, score_x6). */
  def walk(byShard: Map[Int, Map[String, Array[PostingBlock]]],
      slots: Array[Array[String]], law: Phrase.Law, sumIdf: Double,
      avgdl: Double, k: Int, shared: Boolean): Seq[(Long, Long)] = {
    val keys = slots.flatten.distinct
    val idx = slots.map(_.map(keys.indexOf(_)))
    val board = if (shared) new AtomicLong(Long.MinValue) else null
    byShard.toSeq.sortBy(_._1).flatMap { case (_, blocks) =>
      val pc = PhraseCursor(ArraySeq.unsafeWrapArray(keys.map(t =>
        ArraySeq.unsafeWrapArray(blocks.getOrElse(t, Array.empty[PostingBlock])))),
        idx, law, sumIdf, avgdl, tightBounds = true)
      BlockMaxWand.scoreCursors(Seq.empty, Seq.empty, k, 1, board,
        phrases = Seq(pc))
        .map { case (d, s) => (d, math.round(s * 1e6)) }.toSeq
    }.sortBy { case (id, x6) => (-x6, id) }.take(k)
  }
}
