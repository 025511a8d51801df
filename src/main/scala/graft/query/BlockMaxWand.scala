package graft.query

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import graft.index.Codec
import graft.model.PostingBlock

/** Block-max WAND top-k over decoded posting blocks — the engine kernel the
  * reference delegates to Lucene 8's WAND implementation (public algorithm:
  * Broder et al. 2003; Ding & Suel SIGIR'11 block-max variant).
  *
  * Exactness contract: must be rank-identical to the naive Catalyst scorer
  * under the deterministic final ordering (micro-rounded score desc, doc_id
  * asc). The heap therefore orders by (score_x6, doc_id), and the pruning
  * threshold θ is derived from the weakest heap entry with a conservative
  * slack so FP-sum-order noise can never prune a doc the naive path keeps.
  */
object BlockMaxWand {

  /** Per-JVM θ boards for cross-shard pruning: every shard task of one
    * (query run, qid) resolves the same AtomicLong within its executor
    * JVM — in local mode that is ALL shards, on a cluster the shards
    * co-resident per executor (exactly the population whose θ can be
    * shared for free; cross-executor sharing would need RPC). Bounded
    * LRU-ish eviction: boards are tiny and per-query, but executors are
    * long-lived, so the map must not grow without bound. */
  object ThetaBoards {
    private val MaxBoards = 8192
    private val boards =
      java.util.Collections.synchronizedMap(
        new java.util.LinkedHashMap[String, AtomicLong](64, 0.75f, false) {
          override def removeEldestEntry(
              e: java.util.Map.Entry[String, AtomicLong]): Boolean =
            size() > MaxBoards
        })
    def boardFor(key: String): AtomicLong =
      boards.synchronized {
        boards.computeIfAbsent(key, _ => new AtomicLong(Long.MinValue))
      }
  }

  /** One query term's state: idf, query-occurrence weight, and its posting
    * blocks (block_id-sorted) within the current shard. */
  final case class QueryTerm(term: String, idf: Double, weight: Int)

  final case class WandQuery(qid: Int, terms: Array[QueryTerm])

  /** One scoring cursor of a (possibly multi-leg) WAND run: a term's blocks
    * within the current shard plus ITS OWN scoring statistics — per-cursor
    * idf/avgdl/bound-mode is what lets cursors from DIFFERENT per-field
    * sub-indexes (each with its own BM25 stats) share one doc-ordered pivot
    * walk, the Lucene bool/should block-max WAND (sum of per-clause bounds
    * as the pivot bound). `leg` identifies the bool clause the cursor
    * belongs to (for minimum_should_match counting). */
  final case class Cursor(blocks: IndexedSeq[PostingBlock], idf: Double,
      weight: Int, avgdl: Double, tightBounds: Boolean, leg: Int = 0)

  /** A positional clause (match_phrase, span_near, match_phrase_prefix;
    * alone or inside a bool query): per unique term its blocks within the
    * current shard (empty when the shard lacks the term), the position slots
    * as member-term indexes in query order, the frequency law, and the
    * clause's summed idf. The kernel walks it as ONE composite cursor
    * (Lucene's bool-over-phrase: the PhraseQuery is a clause scorer like
    * any other). See [[Phrase]] for slots and laws. */
  final case class PhraseCursor(termBlocks: IndexedSeq[IndexedSeq[PostingBlock]],
      slots: Array[Array[Int]], law: Phrase.Law, sumIdf: Double,
      avgdl: Double, tightBounds: Boolean, leg: Int = 0)

  private final val Slack = 0.6e-6 // half a micro-unit + FP headroom

  /** One scoring cursor of the pivot walk — a term's postings or a
    * composite (phrase) clause. The walk needs exactly this surface; every
    * bound method must upper-bound the cursor's exact contribution. */
  private sealed abstract class ScoreIter(val leg: Int) {
    /** Global upper bound of this cursor's contribution to any doc. */
    def ub: Double
    def curDoc: Long
    /** Upper bound for docs >= d from block-max metadata. */
    def blockUbAt(d: Long): Double
    /** First doc beyond the block containing/following d (skip target). */
    def blockBoundary(d: Long): Long
    /** Exact contribution at curDoc (only called when matches). */
    def score: Double
    /** Two-phase confirm (Lucene TwoPhaseIterator): curDoc may sit on an
      * APPROXIMATION superset (a phrase's term conjunction); matches runs
      * the exact check (position alignment). Term cursors always match. */
    def matches: Boolean
    def next(): Unit
    def advanceTo(d: Long): Unit
  }

  /** Cursor over one term's blocks; skips whole blocks via last_doc_id
    * without decoding (the block-max skip). */
  private final class TermIter(blocks: IndexedSeq[PostingBlock],
                               val idf: Double, val weight: Int, avgdl: Double,
                               tightBounds: Boolean, leg0: Int = 0)
      extends ScoreIter(leg0) {
    // When the index contains streamed appends, global avgdl has shifted
    // since blocks were encoded, so the stored (avgdl-dependent) max_tf_norm
    // may no longer upper-bound true scores. The fallback bound
    // tf/(tf + k1(1-b)) is the avgdl→∞ limit of tfNorm, valid for any
    // avgdl/dl — pruning weakens, exactness holds.
    private def blockBound(b: PostingBlock): Double =
      if (tightBounds) b.max_tf_norm
      else b.max_tf.toDouble / (b.max_tf + Bm25.K1 * (1.0 - Bm25.B))
    private var bi = 0
    private var pi = 0
    private var ids: Array[Long] = _
    private var tfs: Array[Int] = _
    private var dls: Array[Int] = _
    private var poss: Array[Array[Int]] = _
    private var decodedBi = -1
    private var decodedPosBi = -1

    val ub: Double = { // global term upper bound
      var m = 0.0; var i = 0
      while (i < blocks.length) { val bb = blockBound(blocks(i)); if (bb > m) m = bb; i += 1 }
      idf * weight * m
    }

    private def decode(): Unit = {
      if (decodedBi != bi && bi < blocks.length) {
        val b = blocks(bi)
        ids = Codec.decodeDocIds(b.doc_ids, b.n)
        tfs = Codec.decodeTfs(b.tfs, b.n)
        dls = Codec.decodeTfs(b.dls, b.n)
        decodedBi = bi
      }
    }

    def exhausted: Boolean = bi >= blocks.length

    def curDoc: Long =
      if (exhausted) Long.MaxValue
      else { decode(); ids(pi) }

    /** Upper bound of this term's contribution for docs >= d, using block-max
      * metadata of the block that would contain d (and later blocks). */
    def blockUbAt(d: Long): Double = {
      var i = bi
      while (i < blocks.length && blocks(i).last_doc_id < d) i += 1
      // bound at the pivot itself (shallow check): the block containing or
      // following d. Docs past this block are re-checked on later pivots.
      if (i >= blocks.length) 0.0 else idf * weight * blockBound(blocks(i))
    }

    /** First doc beyond the block containing/following d — the skip target
      * when the block-max check fails. */
    def blockBoundary(d: Long): Long = {
      var i = bi
      while (i < blocks.length && blocks(i).last_doc_id < d) i += 1
      if (i >= blocks.length) Long.MaxValue else blocks(i).last_doc_id + 1
    }

    def score: Double = {
      decode()
      weight * idf * Bm25.tfNorm(tfs(pi).toDouble, dls(pi).toDouble, avgdl)
    }

    def matches: Boolean = true

    /** Doc length of the current posting (phrase composite scoring). */
    def dl: Int = { decode(); dls(pi) }

    /** Positions of the current posting; requires a positioned build. */
    def positions: Array[Int] = {
      decode()
      if (decodedPosBi != bi) {
        poss = Codec.decodePositions(blocks(bi).pos, tfs)
        decodedPosBi = bi
      }
      require(poss != null,
        "index stores no positions (index_options docs/freqs) — phrase clauses need a positioned build")
      poss(pi)
    }

    def next(): Unit = {
      decode()
      pi += 1
      if (pi >= blocks(bi).n) { bi += 1; pi = 0 }
    }

    def advanceTo(d: Long): Unit = {
      // skip whole blocks without decoding
      while (bi < blocks.length && blocks(bi).last_doc_id < d) { bi += 1; pi = 0 }
      if (exhausted) return
      decode()
      // binary search within the block
      var lo = pi; var hi = blocks(bi).n - 1
      if (ids(lo) >= d) return
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (ids(mid) < d) lo = mid + 1 else hi = mid
      }
      pi = lo
    }
  }

  /** The composite two-phase clause cursor — Lucene's PhraseScorer as a
    * WANDScorer clause. Its inner cursors are [[TermIter]]s grouped into the
    * clause's position slots. The APPROXIMATION is the leapfrog conjunction
    * of the slots (a slot is on a doc if any member term is; curDoc = next
    * doc every slot is on, candidates bounded by the rarest slot);
    * [[matches]] decodes the slots' positions lazily and caches the law's
    * frequency (Lucene TwoPhaseIterator).
    *
    * Every bound is sumIdf · min(1, raw block bounds of the singleton
    * slots' terms), the min taken only under a slot-bounded law. Valid
    * because such a law counts freq ≤ tf of each singleton slot's term and
    * tfNorm is monotone in tf, so sumIdf·tfNorm(freq, dl) ≤
    * sumIdf·tfNorm(tf_i, dl) ≤ sumIdf·bound_i; and tfNorm < 1 for any freq,
    * which covers union slots and both span laws. Boundaries take the min
    * over all inner terms, so the shallow-check contract ("bound valid
    * through blockBoundary") is inherited from the per-term cursors. */
  private final class PhraseIter(pc: PhraseCursor) extends ScoreIter(pc.leg) {
    // inner cursors with idf=1, weight=1: their ub/blockUbAt are RAW tfNorm
    // bounds, scaled by the clause's summed idf here
    private val inner: Array[TermIter] =
      pc.termBlocks.iterator.map(bs =>
        new TermIter(bs, 1.0, 1, pc.avgdl, pc.tightBounds)).toArray
    private val slots = pc.slots
    private val bounding: Array[Int] =
      if (pc.law.slotBounded) slots.filter(_.length == 1).map(_(0)).distinct
      else Array.empty
    // a slot no member posts in this shard: the conjunction is empty
    private val dead = slots.exists(_.forall(pc.termBlocks(_).isEmpty))
    private val pos = new Array[Array[Int]](slots.length)
    private var alignedDoc = Long.MaxValue
    private var freq = -1.0
    if (!dead) realign()

    /** sumIdf · min(1, the bounding terms' raw bounds): their global
      * bounds when `d` < 0, their block bounds at doc `d` otherwise. */
    private def bound(d: Long): Double =
      if (dead) 0.0
      else {
        var m = 1.0
        var i = 0
        while (i < bounding.length) {
          val t = inner(bounding(i))
          val b = if (d < 0) t.ub else t.blockUbAt(d)
          if (b < m) m = b
          i += 1
        }
        pc.sumIdf * m
      }

    val ub: Double = bound(-1L)

    private def slotDoc(s: Int): Long = {
      val ms = slots(s)
      var m = Long.MaxValue
      var i = 0
      while (i < ms.length) {
        val c = inner(ms(i)).curDoc
        if (c < m) m = c
        i += 1
      }
      m
    }

    /** Leapfrog the slot conjunction to the next doc every slot is on. */
    private def realign(): Unit = {
      freq = -1.0
      var d = 0L
      var s = 0
      while (s < slots.length) {
        val c = slotDoc(s)
        if (c > d) d = c
        s += 1
      }
      while (d != Long.MaxValue) {
        var m = d
        s = 0
        while (s < slots.length) {
          val ms = slots(s)
          var i = 0
          while (i < ms.length) { inner(ms(i)).advanceTo(d); i += 1 }
          val c = slotDoc(s)
          if (c > m) m = c
          s += 1
        }
        if (m == d) { alignedDoc = d; return }
        d = m
      }
      alignedDoc = Long.MaxValue
    }

    def curDoc: Long = alignedDoc

    def blockUbAt(d: Long): Double = bound(d)

    def blockBoundary(d: Long): Long = {
      var m = Long.MaxValue
      var i = 0
      while (i < inner.length) {
        val b = inner(i).blockBoundary(d)
        if (b < m) m = b
        i += 1
      }
      m
    }

    /** Slot s's positions at the aligned doc: its one on-doc member's, or
      * the on-doc members' merged distinct positions. */
    private def slotPositions(s: Int): Array[Int] = {
      val ms = slots(s)
      if (ms.length == 1) return inner(ms(0)).positions
      val on = ms.filter(inner(_).curDoc == alignedDoc)
      if (on.length == 1) return inner(on(0)).positions
      val arrs = on.map(inner(_).positions)
      val out = new Array[Int](arrs.iterator.map(_.length).sum)
      val idx = new Array[Int](arrs.length)
      var n = 0
      var last = Int.MinValue
      var more = true
      while (more) {
        var best = -1
        var bv = Int.MaxValue
        var j = 0
        while (j < arrs.length) {
          if (idx(j) < arrs(j).length && arrs(j)(idx(j)) < bv) {
            bv = arrs(j)(idx(j)); best = j
          }
          j += 1
        }
        if (best < 0) more = false
        else {
          idx(best) += 1
          if (bv != last) { out(n) = bv; n += 1; last = bv }
        }
      }
      java.util.Arrays.copyOf(out, n)
    }

    /** Position confirm at the aligned doc: the law's frequency over the
      * slots' positions (stopword gaps and the multi-value increment gap
      * are baked into the stored positions and the law's offsets). */
    def matches: Boolean = {
      if (freq < 0) {
        var s = 0
        while (s < slots.length) { pos(s) = slotPositions(s); s += 1 }
        freq = pc.law.freq(pos)
      }
      freq > 0
    }

    def score: Double = {
      val lead = slots(0)
      var i = 0
      while (inner(lead(i)).curDoc != alignedDoc) i += 1
      pc.sumIdf * Bm25.tfNorm(freq, inner(lead(i)).dl.toDouble, pc.avgdl)
    }

    def next(): Unit = {
      val t = alignedDoc + 1
      var i = 0
      while (i < inner.length) { inner(i).advanceTo(t); i += 1 }
      realign()
    }

    def advanceTo(d: Long): Unit = {
      if (alignedDoc >= d) return
      var i = 0
      while (i < inner.length) { inner(i).advanceTo(d); i += 1 }
      realign()
    }
  }

  /** The one bounded top-k of the kernel: hits under the final ordering,
    * head = weakest (lowest score_x6; ties: highest doc_id). Grows on
    * demand — an unbounded caller passes k = Int.MaxValue. */
  private final class TopK(k: Int) {
    private val heap = mutable.PriorityQueue.empty[(Long, Long, Double)](
      Ordering.by[(Long, Long, Double), (Long, Long)] {
        case (x6, d, _) => (-x6, d)
      })

    def full: Boolean = heap.size >= k

    /** Micro-rounded score of the weakest kept hit (when [[full]]). */
    def kthX6: Long = heap.head._1

    def offer(doc: Long, s: Double): Unit = {
      val x6 = math.round(s * 1e6)
      if (heap.size < k) heap.enqueue((x6, doc, s))
      else {
        val (hx6, hdoc, _) = heap.head
        if (x6 > hx6 || (x6 == hx6 && doc < hdoc)) {
          heap.dequeue(); heap.enqueue((x6, doc, s))
        }
      }
    }

    /** The kept (doc_id, exact score) hits, unordered. */
    def drain(): Array[(Long, Double)] =
      heap.dequeueAll.map((e: (Long, Long, Double)) => (e._2, e._3)).toArray
  }

  /** Run one query against one shard's blocks. Returns up to k
    * (doc_id, exact score) hits — unordered; the caller applies the global
    * deterministic ordering.
    *
    * `shared` (optional) is a cross-shard θ board: shards co-resident in
    * one JVM publish their current kth-best micro-rounded score and prune
    * with the MAX over all shards. Sound because the global kth score is ≥
    * any shard's kth score (each full shard already contributes k docs at
    * least that good), so a doc whose upper bound cannot ROUND to the
    * shared kth can never enter the global top-k; the same half-micro-unit
    * Slack that protects local ties protects cross-shard ties (a doc that
    * could round EQUAL to the shared kth is still scored, so doc_id
    * tie-breaks at the global boundary see every candidate). With θ shared,
    * a shard may return fewer than k hits — only ones the merged top-k
    * could use. Rank-identity with the naive scorer is unchanged
    * (IndexSpec/WebSpec assert it through this path). */
  def scoreShard(q: WandQuery, blocksByTerm: Map[String, IndexedSeq[PostingBlock]],
                 avgdl: Double, k: Int, tightBounds: Boolean = true,
                 shared: AtomicLong = null): Array[(Long, Double)] = {
    val iters: Array[ScoreIter] = q.terms.flatMap { t =>
      blocksByTerm.get(t.term).map(bs =>
        new TermIter(bs, t.idf, t.weight, avgdl, tightBounds): ScoreIter)
    }
    run(iters, Array.empty, k, 1, shared)
  }

  /** Multi-leg (bool/should) block-max WAND: cursors may come from
    * DIFFERENT per-field sub-indexes (each [[Cursor]] carries its own
    * idf/avgdl/bound-mode), the pivot walk is over the shared doc_id space,
    * and θ prunes against the kth-best SUM — Lucene's WANDScorer over a
    * disjunction, which is what the reference's ES runs for bool/should
    * queries. Optional ES bool extensions, both exact:
    *
    *  - `filters` (filter context): a doc qualifies only if present in at
    *    least ONE filter posting list (OR over the filter values). A pivot
    *    miss skips every scoring cursor to the next filter doc — the
    *    conjunctive skip — and filter blocks decode only around candidate
    *    pivots (block-max metadata skips the rest), so a corpus-sized
    *    cohort (e.g. year=1993) is probed, never decoded wholesale.
    *  - `minShouldMatch`: a doc must match ≥ that many DISTINCT legs
    *    (clause count, ES bool semantics). Scored-but-failing docs never
    *    enter the heap, so θ stays a valid bound of the kth qualifying sum.
    */
  def scoreCursors(cursors: Seq[Cursor], filters: Seq[IndexedSeq[PostingBlock]],
                   k: Int, minShouldMatch: Int = 1,
                   shared: AtomicLong = null,
                   disMaxTieBreaker: Double = -1.0,
                   phrases: Seq[PhraseCursor] = Seq.empty,
                   mustNot: Seq[IndexedSeq[PostingBlock]] = Seq.empty,
                   requiredMask: Long = 0L): Array[(Long, Double)] = {
    require(cursors.forall(c => c.leg >= 0 && c.leg < 64) &&
      phrases.forall(p => p.leg >= 0 && p.leg < 64),
      "leg ids must fit the minimum_should_match bitmask (0..63)")
    require(disMaxTieBreaker <= 1.0,
      "dis_max tie_breaker must be ≤ 1 (θ pruning bounds by the leg SUM)")
    require(phrases.forall(p => p.slots.nonEmpty && p.slots.forall(s =>
        s.nonEmpty && s.forall(i => i >= 0 && i < p.termBlocks.length))),
      "positional clauses need ≥1 slot, each naming ≥1 of the clause's terms")
    // cursor order = (term cursors in caller order, then phrase cursors):
    // the kernel's FP sum order — and so the exact emitted doubles — is
    // deterministic across runs
    val iters: Array[ScoreIter] =
      (cursors.iterator.map(c =>
        new TermIter(c.blocks, c.idf, c.weight, c.avgdl, c.tightBounds,
          c.leg): ScoreIter) ++
       phrases.iterator.map(p => new PhraseIter(p): ScoreIter)).toArray
    val fits = filters.map(b => new TermIter(b, 0.0, 0, 1.0, true)).toArray
    val negs = mustNot.map(b => new TermIter(b, 0.0, 0, 1.0, true)).toArray
    run(iters, fits, k, minShouldMatch, shared, disMaxTieBreaker, negs,
      requiredMask)
  }

  private def run(iters: Array[ScoreIter], filters: Array[TermIter], k: Int,
                  msm: Int, shared: AtomicLong,
                  disMaxTb: Double = -1.0,
                  mustNot: Array[TermIter] = Array.empty,
                  requiredMask: Long = 0L): Array[(Long, Double)] = {
    if (iters.isEmpty) return Array.empty
    // dis_max (ES best_fields): score = max(leg) + tb·Σ(others). The pivot
    // walk and θ pruning are UNCHANGED: every prefix/block bound sums
    // cursor UBs, and for tb ≤ 1 the dis_max combination is ≤ the sum, so
    // the sum-based bounds stay valid upper bounds of the combined score.
    val disMax = disMaxTb >= 0.0
    var maxLeg = 0
    if (disMax) {
      var i = 0
      while (i < iters.length) {
        if (iters(i).leg > maxLeg) maxLeg = iters(i).leg
        i += 1
      }
    }
    val legSums = if (disMax) new Array[Double](maxLeg + 1) else null

    val top = new TopK(k)

    // Cross-shard θ traffic discipline: `sharedSeen` caches the highest
    // global kth this shard has observed (via read OR its own publish), and
    // a publish happens ONLY when the local kth exceeds it. Without the
    // cache, a CAS per scored doc across 32 co-resident shard threads
    // ping-pongs one cacheline and SLOWS queries ~4-5× (measured at 9.6M
    // docs) — the board must be read-mostly.
    var sharedSeen = Long.MinValue

    def theta: Double = {
      val local =
        if (!top.full) Double.NegativeInfinity
        else top.kthX6 / 1e6 - Slack
      if (shared == null) local
      else {
        val sx6 = shared.get()
        if (sx6 > sharedSeen) sharedSeen = sx6
        if (sharedSeen == Long.MinValue) local
        else math.max(local, sharedSeen / 1e6 - Slack)
      }
    }

    def offer(doc: Long, s: Double): Unit = {
      top.offer(doc, s)
      // publish the kth-best as a global lower bound only when it ADVANCES
      // the observed global max (max-fold: monotone, race-free — a stale
      // read only weakens pruning, never correctness)
      if (shared != null && top.full && top.kthX6 > sharedSeen)
        sharedSeen = shared.accumulateAndGet(top.kthX6,
          (a, b) => math.max(a, b))
    }

    val n = iters.length
    val order = iters.indices.toArray

    while (true) {
      // sort term cursors by current doc
      val sorted = order.sortBy(i => iters(i).curDoc)
      var acc = 0.0
      var p = -1
      var i = 0
      while (i < n && p == -1) {
        acc += iters(sorted(i)).ub
        if (acc > theta) p = i
        i += 1
      }
      if (p == -1) return top.drain()
      val pivot = iters(sorted(p)).curDoc
      if (pivot == Long.MaxValue)
        return top.drain()
      // fold ties into the pivot set so every term that can contribute to
      // the pivot doc is counted by the block-max check below
      while (p + 1 < n && iters(sorted(p + 1)).curDoc == pivot) p += 1

      // block-max refinement: tighter bound from the blocks at the pivot
      var bacc = 0.0
      var j = 0
      while (j <= p) { bacc += iters(sorted(j)).blockUbAt(pivot); j += 1 }
      if (bacc <= theta) {
        // no doc in these blocks can make the heap — jump past the nearest
        // block boundary among the pivot terms, but never past the current
        // doc of a term beyond the pivot (its uncounted contribution could
        // make a doc in between viable — Ding & Suel candidate selection)
        var boundary = Long.MaxValue
        j = 0
        while (j <= p) {
          val b = iters(sorted(j)).blockBoundary(pivot)
          if (b < boundary) boundary = b
          j += 1
        }
        j = p + 1
        while (j < n) {
          val d = iters(sorted(j)).curDoc
          if (d < boundary) boundary = d
          j += 1
        }
        val target = math.max(boundary, pivot + 1)
        j = 0
        while (j <= p) {
          if (iters(sorted(j)).curDoc < target) iters(sorted(j)).advanceTo(target)
          j += 1
        }
      } else if (iters(sorted(0)).curDoc == pivot) {
        // filter context: the pivot must appear in ≥1 filter posting list.
        // On a miss no doc in [pivot, nextFilterDoc) can qualify, so every
        // scoring cursor skips to the next filter doc (conjunctive skip) —
        // filter blocks between candidates are never decoded.
        var nf = pivot
        if (filters.length > 0) {
          nf = Long.MaxValue
          var fi = 0
          while (fi < filters.length) {
            filters(fi).advanceTo(pivot)
            val d = filters(fi).curDoc
            if (d < nf) nf = d
            fi += 1
          }
        }
        if (nf > pivot) {
          var m = 0
          while (m < n) {
            if (iters(sorted(m)).curDoc < nf) iters(sorted(m)).advanceTo(nf)
            m += 1
          }
        } else {
          // must_not (ES exclusion context, unscored): a pivot present in
          // any exclusion posting list is skipped without scoring.
          // Exclusion lists decode only around candidate pivots, and
          // skipping docs only SHRINKS the qualifying set, so θ (the kth
          // best of heap entries, all qualifying) stays a valid bound.
          var excluded = false
          var xi = 0
          while (!excluded && xi < mustNot.length) {
            mustNot(xi).advanceTo(pivot)
            excluded = mustNot(xi).curDoc == pivot
            xi += 1
          }
          if (excluded) {
            var m = 0
            while (m < n) {
              if (iters(sorted(m)).curDoc == pivot) iters(sorted(m)).next()
              m += 1
            }
          } else {
          // all cursors up to the pivot are aligned — score it fully.
          // Sum order = (leg, term) cursor order (sortBy is stable), so the
          // kernel's FP sum is deterministic across runs.
          var s = 0.0
          var legMask = 0L
          if (disMax) java.util.Arrays.fill(legSums, 0.0)
          var m = 0
          while (m < n) {
            val it = iters(sorted(m))
            if (it.curDoc == pivot) {
              // two-phase confirm: a phrase cursor's curDoc is its term
              // CONJUNCTION (approximation); only a position-confirmed
              // match scores and counts toward minimum_should_match
              if (it.matches) {
                val c = it.score
                if (disMax) legSums(it.leg) += c else s += c
                legMask |= 1L << it.leg
              }
              it.next()
            }
            m += 1
          }
          if (disMax) {
            // max + tb·(total − max), folded in leg order (deterministic)
            var mx = 0.0
            var tot = 0.0
            var li = 0
            while (li < legSums.length) {
              val v = legSums(li)
              tot += v
              if (v > mx) mx = v
              li += 1
            }
            s = mx + disMaxTb * (tot - mx)
          }
          // ES bool contexts: ≥1 scored clause CONFIRMED (a doc whose only
          // pivot presence is a failed phrase approximation is not a hit,
          // even at msm=0), every REQUIRED (must) leg present, and
          // minimum_should_match counted over the NON-required (should)
          // legs only — ES's minimum_should_match semantics. With no
          // required legs this is the plain distinct-leg count.
          if (legMask != 0L &&
              (legMask & requiredMask) == requiredMask &&
              java.lang.Long.bitCount(legMask & ~requiredMask) >= msm)
            offer(pivot, s)
          }
        }
      } else {
        // advance the highest-impact cursor below the pivot up to the pivot
        var best = 0
        var bestUb = -1.0
        j = 0
        while (j < p) {
          if (iters(sorted(j)).curDoc < pivot && iters(sorted(j)).ub > bestUb) {
            bestUb = iters(sorted(j)).ub; best = j
          }
          j += 1
        }
        iters(sorted(best)).advanceTo(pivot)
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
