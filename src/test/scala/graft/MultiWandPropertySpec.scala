package graft

import java.util.concurrent.atomic.AtomicLong

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.model.PostingBlock
import graft.query.{BlockMaxWand, Bm25}
import graft.query.BlockMaxWand.Cursor

/** Randomized exactness property for the MULTI-LEG (bool/should) WAND
  * kernel: cursors from several per-field sub-indexes — each with its own
  * (N, df, avgdl) — share one pivot walk with θ = kth-best SUM, optionally
  * under an ES filter context and a minimum_should_match constraint. Tiny
  * corpora with tiny shard/block sizes put block boundaries, ties,
  * filter-gap skips and exhausted cursors everywhere; the kernel must
  * reproduce the brute-force summed BM25 top-k EXACTLY under the
  * deterministic ordering (micro-rounded sum desc, doc_id asc). */
class MultiWandPropertySpec extends AnyFunSuite {

  private def check(name: String, p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(res.passed, s"$name: ${res.status}")
  }

  private val fields = Seq("fa", "fb", "fc")
  private val vocab = ('a' to 'h').map(_.toString)

  /** corpus: docId -> field -> (term -> tf); a doc may lack any field. */
  private type Corpus = Seq[Map[String, Map[String, Int]]]

  private val docGen: Gen[Map[String, Map[String, Int]]] = for {
    fa <- Gen.listOf(Gen.oneOf(vocab))
    fb <- Gen.listOf(Gen.oneOf(vocab))
    fc <- Gen.listOf(Gen.oneOf(vocab))
  } yield Seq("fa" -> fa, "fb" -> fb, "fc" -> fc)
    .map { case (f, ts) =>
      f -> ts.groupBy(identity).view.mapValues(_.length).toMap }
    .filter(_._2.nonEmpty).toMap

  private val corpusGen: Gen[Corpus] = for {
    n <- Gen.chooseNum(1, 50)
    docs <- Gen.listOfN(n, docGen)
  } yield docs

  /** Legs carry an ES per-field boost (1.0 = the unboosted identity;
    * 0.5/2/3 = the `fields: ["title^2"]` client pattern). */
  private val legsGen: Gen[List[(String, List[String], Double)]] = for {
    nl <- Gen.chooseNum(1, 3)
    legs <- Gen.listOfN(nl, for {
      f <- Gen.oneOf(fields)
      ts <- Gen.nonEmptyListOf(Gen.oneOf(vocab)).map(_.take(3))
      b <- Gen.oneOf(1.0, 0.5, 2.0, 3.0)
    } yield (f, ts, b))
  } yield legs

  private val filterGen: Gen[Option[(String, List[String])]] =
    Gen.option(for {
      f <- Gen.oneOf(fields)
      vs <- Gen.nonEmptyListOf(Gen.oneOf(vocab)).map(_.take(2))
    } yield (f, vs))

  /** Per-field stats over the field's sub-corpus (docs with ≥1 token). */
  private final case class FStats(n: Long, avgdl: Double,
      df: Map[String, Long], dl: Map[Int, Int])

  private def fieldStats(corpus: Corpus, f: String): FStats = {
    val present = corpus.zipWithIndex.collect {
      case (doc, id) if doc.get(f).exists(_.nonEmpty) => id -> doc(f)
    }
    val dl = present.map { case (id, tm) => id -> tm.values.sum }.toMap
    val n = present.length.toLong
    val avgdl = if (n == 0) 0.0 else dl.values.sum.toDouble / n
    val df = vocab.map(t =>
      t -> present.count(_._2.contains(t)).toLong).toMap
    FStats(n, avgdl, df, dl)
  }

  /** Encode one field's postings, sharded by doc_id — keys are the
    * field-prefixed terms the multi-field shard index uses. */
  private def encodeField(corpus: Corpus, f: String, st: FStats,
      shardSize: Int, blockSize: Int)
      : Map[Int, Map[String, IndexedSeq[PostingBlock]]] = {
    val rows = for {
      (doc, id) <- corpus.zipWithIndex
      tm <- doc.get(f).toSeq
      (term, tf) <- tm.toSeq.sortBy(_._1)
    } yield TfRow(id / shardSize, term, id.toLong, tf, st.dl(id))
    rows.groupBy(_.doc_shard).map { case (shard, rs) =>
      val sorted = rs.sortBy(r => (r.term, r.doc_id))
      val blocks = ReferenceEncoder.encodePartition(st.avgdl, blockSize)(
        sorted.iterator).toIndexedSeq
      shard -> blocks.groupBy(b => f + "\u0000" + b.term).view
        .mapValues(_.sortBy(_.block_id).toIndexedSeq).toMap
    }
  }

  private def brute(corpus: Corpus, legs: List[(String, List[String], Double)],
      filter: Option[(String, List[String])], msm: Int, k: Int,
      stats: Map[String, FStats], disMaxTb: Double): Seq[(Long, Long)] = {
    corpus.zipWithIndex.flatMap { case (doc, id) =>
      val passesFilter = filter.forall { case (ff, vs) =>
        doc.get(ff).exists(tm => vs.exists(tm.contains))
      }
      val legScores = legs.map { case (f, terms, boost) =>
        val st = stats(f)
        val w = terms.groupBy(identity).view.mapValues(_.length)
        doc.get(f).map { tm =>
          w.toSeq.collect {
            case (t, wt) if tm.contains(t) && st.df(t) > 0 =>
              // (wt · (idf · boost)) · tfNorm — the kernel's pre-multiplied
              // cursor-idf parenthesization
              wt * (Bm25.idf(st.n, st.df(t)) * boost) *
                Bm25.tfNorm(tm(t).toDouble, st.dl(id).toDouble, st.avgdl)
          }.sum
        }.getOrElse(0.0)
      }
      val matched = legs.zip(legScores).count { case ((f, terms, _), _) =>
        doc.get(f).exists(tm => terms.exists(t => tm.contains(t) && stats(f).df(t) > 0))
      }
      val s =
        if (disMaxTb < 0) legScores.sum
        else {
          val mx = legScores.max
          mx + disMaxTb * (legScores.sum - mx)
        }
      if (passesFilter && matched >= msm && matched >= 1 && s > 0.0)
        Some((id.toLong, math.round(s * 1e6)))
      else None
    }.sortBy { case (id, x6) => (-x6, id) }.take(k)
  }

  private def kernel(corpus: Corpus, legs: List[(String, List[String], Double)],
      filter: Option[(String, List[String])], msm: Int, k: Int,
      shardSize: Int, blockSize: Int, stats: Map[String, FStats],
      shared: Boolean, disMaxTb: Double): Seq[(Long, Long)] = {
    // merged per-shard block maps across all fields (the multi-field open)
    val perField = fields.map(f =>
      encodeField(corpus, f, stats(f), shardSize, blockSize))
    val shardIds = perField.flatMap(_.keys).distinct.sorted
    val byShard: Map[Int, Map[String, IndexedSeq[PostingBlock]]] =
      shardIds.map(s => s -> perField.flatMap(_.getOrElse(s, Map.empty)).toMap).toMap

    // cursor specs in (leg, term) order, per-cursor stats — multiSearch's
    // construction
    val specs = legs.zipWithIndex.flatMap { case ((f, terms, boost), li) =>
      val st = stats(f)
      terms.groupBy(identity).view.mapValues(_.length).toSeq.sortBy(_._1)
        .collect { case (t, w) if st.df(t) > 0 =>
          (f + "\u0000" + t, Bm25.idf(st.n, st.df(t)) * boost, w, st.avgdl, li)
        }
    }
    val filterKeys = filter.toSeq.flatMap { case (f, vs) =>
      vs.distinct.map(f + "\u0000" + _)
    }
    val board = if (shared) new AtomicLong(Long.MinValue) else null
    shardIds.flatMap { s =>
      val blocks = byShard(s)
      val cursors = specs.flatMap { case (key, idf, w, avgdl, li) =>
        blocks.get(key).map(bs => Cursor(bs, idf, w, avgdl, true, li))
      }
      val fblocks = filterKeys.flatMap(blocks.get)
      if (cursors.isEmpty || (filter.isDefined && fblocks.isEmpty)) Nil
      else BlockMaxWand.scoreCursors(cursors, fblocks, k, msm, board, disMaxTb)
        .map { case (d, sc) => (d, math.round(sc * 1e6)) }.toSeq
    }.sortBy { case (id, x6) => (-x6, id) }.take(k)
  }

  test("multi-leg WAND == brute-force summed BM25 (boosts, filters, msm, boards, geometries)") {
    // disMaxTb −1 = bool/should sum; 0/0.3/1 = dis_max tie_breakers
    val p = Prop.forAll(corpusGen, legsGen, filterGen, Gen.oneOf(1, 2),
      Gen.oneOf(1, 3, 10), Gen.oneOf(3, 8, 64),
      Gen.zip(Gen.oneOf(2, 4), Gen.oneOf(-1.0, 0.0, 0.3, 1.0))) {
      (corpus, legs, filter, msm, k, shardSize, bsTb) =>
        val (blockSize, tb) = bsTb
        val stats = fields.map(f => f -> fieldStats(corpus, f)).toMap
        val expected = brute(corpus, legs, filter, msm, k, stats, tb)
        val plain = kernel(corpus, legs, filter, msm, k, shardSize,
          blockSize, stats, shared = false, tb)
        val withBoard = kernel(corpus, legs, filter, msm, k, shardSize,
          blockSize, stats, shared = true, tb)
        plain == expected && withBoard == expected
    }
    check("multi-wand-exactness", p)
  }
}
