package graft

import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.Analyzer
import graft.model.PostingBlock
import graft.query.{BlockMaxWand, Bm25, Phrase}
import graft.query.BlockMaxWand.{Cursor, PhraseCursor}

/** Randomized exactness property for PHRASE CLAUSES INSIDE BOOL queries:
  * the combined-bound WAND walks match-leg term cursors and composite
  * phrase cursors (two-phase: term-conjunction approximation + lazy
  * position confirm) over one pivot, θ = kth-best SUM over all clauses.
  * Corpora index the positioned text field through the REAL pipeline
  * (chainCountsPos → TfRow.pos → block codec) so stopword gaps and the
  * multi-value increment gap land in the stored positions; tiny
  * shard/block geometries put block boundaries and exhausted cursors
  * everywhere. The kernel must reproduce a brute-force scorer EXACTLY
  * under the deterministic ordering, including minimum_should_match
  * counting position-confirmed phrase clauses only. */
class BoolPhrasePropertySpec extends AnyFunSuite {

  private def check(name: String, p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(res.passed, s"$name: ${res.status}")
  }

  /** Field-qualified key separator (the multi-field shard-index shape). */
  private val Sep = "\u0000"

  // "the"/"of" are _english_ stopwords → dropped with gaps kept
  private val vocab = Seq("aa", "bb", "cc", "dd", "the", "of")

  /** doc: positioned text field "fa" = multi-valued token lists; bag field
    * "fb" = term multiset (keyword-like, no positions queried). */
  private final case class Doc(fa: Seq[Seq[String]], fb: Seq[String])

  private val docGen: Gen[Doc] = for {
    nv <- Gen.chooseNum(1, 3)
    fa <- Gen.listOfN(nv, Gen.listOf(Gen.oneOf(vocab)).map(_.take(6)))
    fb <- Gen.listOf(Gen.oneOf(vocab)).map(_.take(4))
  } yield Doc(fa, fb)

  private val corpusGen: Gen[Seq[Doc]] = for {
    n <- Gen.chooseNum(1, 40)
    docs <- Gen.listOfN(n, docGen)
  } yield docs

  private val phraseGen: Gen[String] =
    Gen.nonEmptyListOf(Gen.oneOf(vocab)).map(_.take(3).mkString(" "))

  private val matchLegGen: Gen[List[String]] =
    Gen.nonEmptyListOf(Gen.oneOf(vocab)).map(_.take(3))

  /** fa analysis through the real chain: (dl, term → (tf, positions)). */
  private def faAnalyzed(doc: Doc): (Int, Map[String, (Int, Array[Int])]) = {
    val (dl, accs) = Analyzer.chainCountsPos(Analyzer.TextStop,
      doc.fa.iterator.map(_.mkString(" ")))
    (dl, accs.entrySet().asScala
      .map(e => e.getKey -> ((e.getValue.tf, e.getValue.positions))).toMap)
  }

  private final case class Prepared(
      fa: Seq[(Int, Map[String, (Int, Array[Int])])],
      fb: Seq[Map[String, Int]],
      faN: Long, faAvgdl: Double, faDf: Map[String, Long],
      fbN: Long, fbAvgdl: Double, fbDf: Map[String, Long],
      fbDl: Map[Int, Int])

  private def prepare(corpus: Seq[Doc]): Prepared = {
    val fa = corpus.map(faAnalyzed)
    val fb = corpus.map(_.fb.groupBy(identity).view.mapValues(_.length).toMap)
    // fa stats as PhrasePropertySpec defines them (N = corpus size); fb
    // stats as MultiWandPropertySpec's per-field sub-corpus. The PROPERTY
    // only needs brute and kernel to share one consistent set — the
    // engine-stat semantics are pinned by FieldedSpec and the oracle.
    val faN = fa.length.toLong
    val faAvgdl = if (faN == 0) 0.0 else fa.map(_._1).sum.toDouble / faN
    val faDf = vocab.map(t => t -> fa.count(_._2.contains(t)).toLong).toMap
    val fbPresent = fb.zipWithIndex.collect {
      case (tm, id) if tm.nonEmpty => id -> tm
    }
    val fbDl = fbPresent.map { case (id, tm) => id -> tm.values.sum }.toMap
    val fbN = fbPresent.length.toLong
    val fbAvgdl = if (fbN == 0) 0.0 else fbDl.values.sum.toDouble / fbN
    val fbDf = vocab.map(t => t -> fbPresent.count(_._2.contains(t)).toLong).toMap
    Prepared(fa, fb, faN, faAvgdl, faDf, fbN, fbAvgdl, fbDf, fbDl)
  }

  /** Brute-force: per doc, match-leg BM25 sums + position-aligned phrase
    * scores combined per the dis_max tie-breaker (−1 = bool/should sum);
    * filter = OR over fb values in filter context; msm over clauses that
    * actually matched. */
  private def brute(pr: Prepared, matchLegs: List[List[String]],
      phrases: List[String], filter: Option[List[String]],
      mustNotF: Option[List[String]], required: Set[Int], msm: Int, k: Int,
      disMaxTb: Double): Seq[(Long, Long)] = {
    val pOccs = phrases.map(p => Analyzer.analyzeChainPos(Analyzer.TextStop, p))
    pr.fb.indices.flatMap { id =>
      val (faDl, faTerms) = pr.fa(id)
      val fbTm = pr.fb(id)
      val passesFilter = filter.forall(vs => vs.exists(fbTm.contains))
      val passesMustNot = mustNotF.forall(vs => !vs.exists(fbTm.contains))
      val legScores = scala.collection.mutable.ArrayBuffer.empty[Double]
      val matchedSet = scala.collection.mutable.Set.empty[Int]
      matchLegs.zipWithIndex.foreach { case (terms, li) =>
        val w = terms.groupBy(identity).view.mapValues(_.length)
        val legHit = terms.exists(t => fbTm.contains(t) && pr.fbDf(t) > 0)
        val c = if (fbTm.isEmpty) 0.0 else w.toSeq.collect {
          case (t, wt) if fbTm.contains(t) && pr.fbDf(t) > 0 =>
            wt * Bm25.idf(pr.fbN, pr.fbDf(t)) *
              Bm25.tfNorm(fbTm(t).toDouble, pr.fbDl(id).toDouble, pr.fbAvgdl)
        }.sum
        legScores += c
        if (legHit) matchedSet += li
      }
      pOccs.zipWithIndex.foreach { case (occs, pi) =>
        val viable = occs.nonEmpty && occs.forall(o => pr.faDf(o._1) > 0) &&
          occs.forall(o => faTerms.contains(o._1))
        var c = 0.0
        if (viable) {
          val base = occs(0)._2
          val lead = faTerms(occs(0)._1)._2
          val pf = lead.count(st => occs.forall { case (t, p) =>
            faTerms(t)._2.contains(st + (p - base))
          })
          if (pf > 0) {
            val sumIdf = occs.iterator.map(o => Bm25.idf(pr.faN, pr.faDf(o._1))).sum
            c = sumIdf * Bm25.tfNorm(pf.toDouble, faDl.toDouble, pr.faAvgdl)
            matchedSet += matchLegs.length + pi
          }
        }
        legScores += c
      }
      val s =
        if (disMaxTb < 0) legScores.sum
        else {
          val mx = legScores.max
          mx + disMaxTb * (legScores.sum - mx)
        }
      if (passesFilter && passesMustNot && matchedSet.nonEmpty &&
          required.subsetOf(matchedSet) &&
          (matchedSet -- required).size >= msm)
        Some((id.toLong, math.round(s * 1e6)))
      else None
    }.sortBy { case (id, x6) => (-x6, id) }.take(k)
  }

  /** Kernel path: encode both fields sharded (fa through the positions
    * pipeline), build Cursor + PhraseCursor per shard exactly as
    * multiSearch does, run scoreCursors. */
  private def kernel(corpus: Seq[Doc], pr: Prepared,
      matchLegs: List[List[String]], phrases: List[String],
      filter: Option[List[String]], mustNotF: Option[List[String]],
      required: Set[Int], msm: Int, k: Int,
      shardSize: Int, blockSize: Int, shared: Boolean,
      disMaxTb: Double): Seq[(Long, Long)] = {
    val faRows = pr.fa.zipWithIndex.flatMap { case ((dl, terms), id) =>
      terms.toSeq.sortBy(_._1).map { case (t, (tf, pos)) =>
        TfRow(id / shardSize, t, id.toLong, tf, dl, pos)
      }
    }
    val fbRows = pr.fb.zipWithIndex.flatMap { case (tm, id) =>
      tm.toSeq.sortBy(_._1).map { case (t, tf) =>
        TfRow(id / shardSize, t, id.toLong, tf, pr.fbDl(id))
      }
    }
    def enc(rows: Seq[TfRow], f: String, avgdl: Double)
        : Map[Int, Map[String, IndexedSeq[PostingBlock]]] =
      rows.groupBy(_.doc_shard).map { case (shard, rs) =>
        val sorted = rs.sortBy(r => (r.term, r.doc_id))
        val blocks = ReferenceEncoder.encodePartition(avgdl, blockSize)(
          sorted.iterator).toIndexedSeq
        shard -> blocks.groupBy(b => f + Sep + b.term).view
          .mapValues(_.sortBy(_.block_id).toIndexedSeq).toMap
      }
    val byShard: Map[Int, Map[String, IndexedSeq[PostingBlock]]] = {
      val a = enc(faRows, "fa", pr.faAvgdl)
      val b = enc(fbRows, "fb", pr.fbAvgdl)
      (a.keySet ++ b.keySet).map(s =>
        s -> (a.getOrElse(s, Map.empty) ++ b.getOrElse(s, Map.empty))).toMap
    }

    // multiSearch's construction: match-leg cursors in (leg, term) order,
    // phrase clauses numbered after; corpus-absent terms drop cursors (or
    // the whole phrase clause)
    val specs = matchLegs.zipWithIndex.flatMap { case (terms, li) =>
      terms.groupBy(identity).view.mapValues(_.length).toSeq.sortBy(_._1)
        .collect { case (t, w) if pr.fbDf(t) > 0 =>
          ("fb" + Sep + t, Bm25.idf(pr.fbN, pr.fbDf(t)), w, li)
        }
    }
    val pSpecs = phrases.zipWithIndex.flatMap { case (p, pi) =>
      val occs = Analyzer.analyzeChainPos(Analyzer.TextStop, p)
      if (occs.isEmpty || occs.exists(o => pr.faDf(o._1) == 0)) None
      else {
        val uniq = occs.map(_._1).distinct
        val tIdx = uniq.zipWithIndex.toMap
        val base = occs(0)._2
        Some((uniq.map("fa" + Sep + _), occs.map(o => tIdx(o._1)),
          occs.map(_._2 - base),
          occs.iterator.map(o => Bm25.idf(pr.faN, pr.faDf(o._1))).sum,
          matchLegs.length + pi))
      }
    }
    val filterKeys = filter.toList.flatMap(_.distinct.map("fb" + Sep + _))
    val mustNotKeys = mustNotF.toList.flatMap(_.distinct.map("fb" + Sep + _))
    val reqMask = required.foldLeft(0L)((m, l) => m | (1L << l))
    val board = if (shared) new AtomicLong(Long.MinValue) else null
    byShard.keys.toSeq.sorted.flatMap { sh =>
      val blocks = byShard(sh)
      val cursors = specs.flatMap { case (key, idf, w, li) =>
        blocks.get(key).map(bs => Cursor(bs, idf, w, pr.fbAvgdl, true, li))
      }
      val pcs = pSpecs.flatMap { case (keys, occT, occO, sumIdf, leg) =>
        val tbs = keys.map(blocks.get)
        if (tbs.exists(_.isEmpty)) None
        else Some(PhraseCursor(
          scala.collection.immutable.ArraySeq.unsafeWrapArray(tbs.map(_.get)),
          occT.map(Array(_)), Phrase.Aligned(occO), sumIdf, pr.faAvgdl, true,
          leg))
      }
      val fblocks = filterKeys.flatMap(blocks.get)
      val nblocks = mustNotKeys.flatMap(blocks.get)
      if ((cursors.isEmpty && pcs.isEmpty) ||
          (filter.isDefined && fblocks.isEmpty)) Nil
      else BlockMaxWand.scoreCursors(cursors, fblocks, k, msm, board,
        disMaxTb, phrases = pcs, mustNot = nblocks, requiredMask = reqMask)
        .map { case (d, sc) => (d, math.round(sc * 1e6)) }.toSeq
    }.sortBy { case (id, x6) => (-x6, id) }.take(k)
  }

  test("bool-with-phrase WAND == brute-force (msm, must, filters, must_not, dis_max, boards, geometries)") {
    val queryGen: Gen[(List[List[String]], List[String])] = for {
      nm <- Gen.chooseNum(0, 2)
      ml <- Gen.listOfN(nm, matchLegGen)
      np <- Gen.chooseNum(1, 2)
      ps <- Gen.listOfN(np, phraseGen)
    } yield (ml, ps)
    val filterGen: Gen[Option[List[String]]] =
      Gen.option(Gen.nonEmptyListOf(Gen.oneOf(vocab)).map(_.take(2)))
    // required clause subset (ES must): drawn as a bitset over clause
    // indices, reduced mod the actual clause count inside the property
    val reqGen: Gen[List[Int]] = Gen.listOf(Gen.chooseNum(0, 3)).map(_.take(2))
    // disMaxTb −1 = bool/should sum; 0/0.3/1 = dis_max tie_breakers;
    // msm 0 exercises the ES default under must-clauses
    val p = Prop.forAll(corpusGen, queryGen,
      Gen.zip(filterGen, filterGen, reqGen), Gen.oneOf(0, 1, 2),
      Gen.oneOf(1, 3, 10), Gen.oneOf(3, 8, 64),
      Gen.zip(Gen.oneOf(2, 4), Gen.oneOf(-1.0, 0.0, 0.3, 1.0))) {
      (corpus, q, fmr, msm, k, shardSize, bsTb) =>
        val (ml, ps) = q
        val (filter, mustNotF, reqRaw) = fmr
        val nClauses = ml.length + ps.length
        val required = reqRaw.map(_ % nClauses).toSet
        val (blockSize, tb) = bsTb
        val pr = prepare(corpus)
        val expected = brute(pr, ml, ps, filter, mustNotF, required, msm, k, tb)
        val plain = kernel(corpus, pr, ml, ps, filter, mustNotF, required,
          msm, k, shardSize, blockSize, shared = false, tb)
        val withBoard = kernel(corpus, pr, ml, ps, filter, mustNotF, required,
          msm, k, shardSize, blockSize, shared = true, tb)
        plain == expected && withBoard == expected
    }
    check("bool-phrase-exactness", p)
  }
}
