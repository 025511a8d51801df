package perfbench

/** Correctness gates. Each returns None when the check holds, or a message
  * saying what differs. They run after timing and are never timed. */
object Gates {

  /** One ranked hit: query id, rank, doc id, micro-unit score. */
  type Hit = (Long, Long, Long, Long)

  /** Live docs after last-write-wins must equal the distinct urls. */
  def docCount(expected: Long, actual: Long): Option[String] =
    if (expected == actual) None
    else Some(s"live docs $actual != distinct urls $expected")

  /** Engine top-k must be rank- and score-identical to the reference. */
  def topK(expected: Seq[Hit], actual: Seq[Hit]): Option[String] = {
    val e = expected.sorted
    val a = actual.sorted
    if (e == a) None
    else {
      val diff = e.zipAll(a, null, null).find { case (x, y) => x != y }
      Some(s"top-k differs from the reference (${e.size} vs ${a.size} hits); " +
        s"first difference: reference ${diff.map(_._1).orNull}, engine ${diff.map(_._2).orNull}")
    }
  }

  /** Per-query sanity of one engine result: at most k hits, ranks 1..n,
    * scores non-increasing and no doc twice. A query that fails it counts
    * as a failed op. */
  def wellFormed(hits: Seq[Hit], k: Int): Boolean = {
    val byRank = hits.sortBy(_._2)
    byRank.size <= k &&
      byRank.map(_._2) == (1L to byRank.size.toLong) &&
      byRank.map(_._4).sliding(2).forall(p => p.size < 2 || p(0) >= p(1)) &&
      byRank.map(_._3).distinct.size == byRank.size
  }
}
