package graft.query

/** Positional frequency laws: match_phrase, match_phrase_prefix and
  * span_near over positioned posting blocks (ES `text` indexes positions by
  * default, elastic/settings.go:87-138; clients may post `match_phrase`
  * against title/journal/bibliographic).
  *
  * A positional clause is a list of position SLOTS in query order. A slot
  * is a set of terms: one term for an ordinary query token, the prefix
  * expansions for the last token of a match_phrase_prefix. A slot is on a
  * doc if any member term posts it, and its positions there are the
  * members' merged distinct positions (Lucene's UnionPostingsEnum). A doc
  * is a candidate only if every slot is on it (conjunction); the law then
  * counts a frequency from the slots' positions, and the clause scores
  * sumIdf · tfNorm(freq, dl, avgdl) with sumIdf summed over every slot
  * member, duplicates included.
  *
  * Execution: a law is the confirm step of one two-phase clause cursor of
  * the block-max WAND walk ([[BlockMaxWand.PhraseCursor]], Lucene's
  * TwoPhaseIterator). The slot conjunction is the approximation, positions
  * decode only at the conjunction docs the pivot walk reaches, and the
  * clause prunes against θ (and the per-query θ board) like any term
  * cursor — alone (phrase/span/prefix search) or inside a bool query. */
object Phrase {

  /** A frequency law over the slots' positions at one conjunction doc
    * (`pos(j)` = slot j's ascending distinct positions); 0 = no match. */
  sealed abstract class Law extends Serializable {
    def freq(pos: Array[Array[Int]]): Double
    /** freq ≤ |pos(j)| for every slot j, so a singleton slot's stored
      * per-term block bound also bounds the clause. */
    def slotBounded: Boolean = false
  }

  /** Exact phrase and multi-phrase (Lucene PhraseQuery/PhraseScorer,
    * MultiPhraseQuery), public behavior:
    *  - the phrase's analyzed tokens carry their TOKENIZER positions, so a
    *    stopword dropped from the query leaves the same gap it left in the
    *    document ("united of states" requires a one-position gap); `off(j)`
    *    is slot j's position relative to slot 0;
    *  - freq = the number of starts s in slot 0's positions where every
    *    slot j has a position s + off(j) (ExactPhraseMatcher's phrase
    *    frequency). With singleton slots this is match_phrase; the last
    *    slot of a match_phrase_prefix holds its expansions (term order, up
    *    to max_expansions), and its idf sums over the full term set, as
    *    MultiPhraseWeight collects statistics for every term. */
  final case class Aligned(off: Array[Int]) extends Law {
    override def slotBounded: Boolean = true
    def freq(pos: Array[Array[Int]]): Double = {
      val lead = pos(0)
      var pf = 0
      var i = 0
      while (i < lead.length) {
        val s = lead(i)
        var ok = true
        var j = 1
        while (ok && j < pos.length) {
          ok = java.util.Arrays.binarySearch(pos(j), s + off(j)) >= 0
          j += 1
        }
        if (ok) pf += 1
        i += 1
      }
      pf.toDouble
    }
  }

  /** Ordered span_near (ES `span_near` with `in_order: true`; slots = the
    * analyzed tokens in query order, duplicates allowed).
    *
    * Match law: a match starts at each lead-slot position p0 whose MINIMAL
    * ordered completion p0 < p1 < … < p_{n−1} (p_j from slot j's positions)
    * uses slopUsed = (p_{n−1} − p0 + 1) − n ≤ slop. The greedy completion
    * (each p_j = the first slot-j position past p_{j−1}) IS the minimum:
    * taking the earliest feasible position never shrinks later choices
    * (SpanNearPropertySpec proves greedy ≡ exhaustive-min on random
    * corpora). Gaps survive arithmetic untouched, so bridging the
    * multi-value position_increment_gap costs ≥ gap slop — the ES contract.
    *
    * Scoring (Lucene SloppyPhraseScorer's sloppyFreq law, quantized): each
    * match weighs 1/(1 + slopUsed); the engine accumulates
    * round(1e6 · weight) as an INTEGER so the per-doc frequency is
    * order-independent and bit-identical across engines (the repo's
    * micro-unit convention applied to Lucene's float accumulation —
    * documented deviation), then freq = fx6/1e6. A single-slot query
    * degrades to freq = tf exactly. */
  final case class OrderedSpan(slop: Int) extends Law {
    def freq(pos: Array[Array[Int]]): Double = {
      val lead = pos(0)
      var fx6 = 0L
      var i = 0
      while (i < lead.length) {
        var prev = lead(i)
        var ok = true
        var j = 1
        while (ok && j < pos.length) {
          val pj = pos(j)
          var idx = java.util.Arrays.binarySearch(pj, prev + 1)
          if (idx < 0) idx = -idx - 1
          if (idx >= pj.length) ok = false else prev = pj(idx)
          j += 1
        }
        if (ok) {
          val sl = (prev - lead(i) + 1) - pos.length
          if (sl <= slop) fx6 += math.round(1e6 / (1 + sl))
        }
        i += 1
      }
      fx6 / 1e6
    }
  }

  /** Unordered span_near (ES `span_near` with `in_order: false`); `term(j)`
    * identifies slot j's term, so duplicate clauses can be recognized.
    *
    * Match law (this engine's deterministic contract, inspired by Lucene's
    * NearSpansUnordered but defined set-wise so both engines replay it
    * bit-identically — Lucene's own enumeration is a stateful pointer race
    * whose tie order is queue-internal): every slot occurrence (c, p)
    * anchors at most one window — each OTHER slot contributes its FIRST
    * position ≥ p (so p is the window's minimum by construction), except a
    * slot sharing the ANCHOR's TERM, which contributes its first position
    * STRICTLY past p: the anchor consumed that occurrence, so
    * `span_near {a, a}` needs two distinct occurrences of `a` (the Lucene
    * distinct-spans requirement — without the exception one occurrence
    * would satisfy both duplicate clauses through a width-1 window); the
    * window matches iff slopUsed = max(window) − p + 1 − n, clamped at 0
    * for overlapping duplicate positions, is ≤ slop. Weights accumulate
    * micro-quantized exactly like the ordered law. Order never matters:
    * "b a" finds "a b". Single-slot queries degrade to freq = tf. */
  final case class UnorderedSpan(slop: Int, term: Array[Int]) extends Law {
    def freq(pos: Array[Array[Int]]): Double = {
      var fx6 = 0L
      var c = 0
      while (c < pos.length) {
        val anchor = pos(c)
        var i = 0
        while (i < anchor.length) {
          val p = anchor(i)
          var hi = p
          var ok = true
          var j = 0
          while (ok && j < pos.length) {
            if (j != c) {
              val pj = pos(j)
              // first position ≥ p; STRICTLY > p for a slot sharing the
              // anchor's term: the anchor consumed occurrence p
              val floor = if (term(j) == term(c)) p + 1 else p
              var idx = java.util.Arrays.binarySearch(pj, floor)
              if (idx < 0) idx = -idx - 1
              if (idx >= pj.length) ok = false
              else if (pj(idx) > hi) hi = pj(idx)
            }
            j += 1
          }
          if (ok) {
            val sl = math.max(0, (hi - p + 1) - pos.length)
            if (sl <= slop) fx6 += math.round(1e6 / (1 + sl))
          }
          i += 1
        }
        c += 1
      }
      fx6 / 1e6
    }
  }
}
