package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.harness.FieldedQueries

/** Serving state across a SparkSession restart: the fielded handle cache
  * must not serve a handle whose SparkContext has stopped. The spec ends
  * with a live session built with the usual test confs, so the suites that
  * run after it in the same JVM find one. */
class SessionRestartSpec extends AnyFunSuite {
  private def session(): SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("fielded queries serve the same rows from a new session after a restart") {
    // a one-field match, a multi-field bool and more_like_this (one-field
    // df lookup + bool walk on the same handle)
    def serve(s: SparkSession): Seq[Seq[Seq[Any]]] =
      Seq(FieldedQueries.bm25Title(s, ""), FieldedQueries.fieldMulti(s, ""),
        FieldedQueries.fieldMlt(s, "")).map(_.collect().toSeq.map(_.toSeq))
    val first = session()
    val before = serve(first)
    assert(before.forall(_.nonEmpty))
    first.stop()
    val second = session()
    assert(second.sparkContext ne first.sparkContext)
    assert(serve(second) === before)
  }
}
