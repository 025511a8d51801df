package perfbench

import org.scalatest.funsuite.AnyFunSuite

class CorpusSpec extends AnyFunSuite {
  test("the seed alone decides the inputs") {
    val a = Corpus(7L, 1000L)
    val b = Corpus(7L, 1000L)
    val c = Corpus(8L, 1000L)
    assert((0L until 50L).map(a.text) == (0L until 50L).map(b.text))
    assert(a.queries(20) == b.queries(20))
    assert((0L until 50L).map(a.text) != (0L until 50L).map(c.text))
    assert(a.queries(20) != c.queries(20))
  }

  test("re-crawls: ~10% of the base's second half, ~20% of ingest ids") {
    val c = Corpus(3L, 20000L)
    def target(id: Long) = c.url(id).split("/p").last.toLong
    val base = (10000L until 20000L).count(i => target(i) != i) / 10000.0
    val ingest = (20000L until 30000L).count(i => target(i) != i) / 10000.0
    assert(base > 0.08 && base < 0.12, base)
    assert(ingest > 0.17 && ingest < 0.23, ingest)
    assert((20000L until 30000L).forall(i => target(i) == i || target(i) < 20000L))
  }

  test("the live docs keep the last write of every url") {
    val c = Corpus(4L, 2000L)
    val live = c.liveDocs(2600L)
    assert(live.map(_._1).distinct.size == live.size)
    assert(live.size == (0L until 2600L).map(c.url).distinct.size)
    val lastId = (0L until 2600L).groupBy(c.url).map { case (u, ids) => u -> ids.max }
    live.foreach { case (u, t) => assert(t == c.text(lastId(u)), u) }
  }

  test("queries have 2-5 distinct terms") {
    Corpus(5L, 100L).queries(200).foreach { case (_, q) =>
      val ts = q.split(" ")
      assert(ts.length >= 2 && ts.length <= 5 && ts.distinct.length == ts.length, q)
    }
  }
}
