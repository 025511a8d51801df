package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The gates must reject what they exist to catch. */
class GatesSpec extends AnyFunSuite {
  private val ref: Seq[Gates.Hit] =
    Seq((1L, 1L, 40L, 9000000L), (1L, 2L, 7L, 8500000L), (1L, 3L, 12L, 8500000L),
      (2L, 1L, 3L, 7000000L))

  test("identical top-k passes in any row order") {
    assert(Gates.topK(ref, ref.reverse).isEmpty)
  }

  test("a perturbed top-k is rejected") {
    val swapped = ref.updated(1, (1L, 2L, 12L, 8500000L)).updated(2, (1L, 3L, 7L, 8500000L))
    val rescored = ref.updated(0, (1L, 1L, 40L, 9000001L))
    val dropped = ref.init
    val extra = ref :+ ((2L, 2L, 5L, 1L))
    for (bad <- Seq(swapped, rescored, dropped, extra))
      assert(Gates.topK(ref, bad).isDefined, bad)
  }

  test("a wrong doc count is rejected") {
    assert(Gates.docCount(1000L, 1000L).isEmpty)
    assert(Gates.docCount(1000L, 999L).isDefined)
    assert(Gates.docCount(1000L, 1001L).isDefined)
  }

  test("per-query sanity: ranks, order, k, duplicates") {
    assert(Gates.wellFormed(ref.filter(_._1 == 1L), 10))
    assert(Gates.wellFormed(Nil, 10))
    assert(!Gates.wellFormed(ref.filter(_._1 == 1L), 2))
    assert(!Gates.wellFormed(Seq((1L, 1L, 4L, 5L), (1L, 2L, 6L, 9L)), 10))
    assert(!Gates.wellFormed(Seq((1L, 1L, 4L, 9L), (1L, 3L, 6L, 5L)), 10))
    assert(!Gates.wellFormed(Seq((1L, 1L, 4L, 9L), (1L, 2L, 4L, 5L)), 10))
  }

  test("a failed op counts as failed and is never timed") {
    val run = new Run
    assert(run.op("ok")(7)(_ == 7).map(_._1).contains(7))
    assert(run.op("bad check")(7)(_ == 8).isEmpty)
    assert(run.op("throws")(sys.error("boom"): Int)(_ => true).isEmpty)
    assert(run.attempted == 3 && run.failed == 2)
  }
}
