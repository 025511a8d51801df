package graft.tools

import org.apache.spark.sql.SparkSession

import graft.harness.QuerySet
import graft.query.Searcher

/** Query-latency probe against an existing index (defaults to the bench
  * peak index): `runMain graft.tools.LatencyProbe [indexDir]`. Mirrors
  * Bench's latency section — resident handle, one warm query, then each
  * query timed individually. */
object LatencyProbe {
  def main(args: Array[String]): Unit = {
    val idxDir =
      if (args.nonEmpty) args(0)
      else s"${sys.props("user.dir")}/target/bench-idx/peak32"
    val spark = SparkSession.builder().master("local[32]")
      .appName("latency-probe")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      // mirror the bench session's aggressive split sizing: the no-shuffle
      // open must engage DESPITE it (it plans on a cloned session)
      .config("spark.sql.files.maxPartitionBytes", (4 << 20).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val t0 = System.nanoTime()
    val handle = Searcher.open(spark, idxDir)
    System.err.println(f"[lat] open ${(System.nanoTime() - t0) / 1e6}%.0f ms")
    QuerySet.webQueries.foreach(q =>
      Searcher.search(handle, Seq(q), QuerySet.K).count())

    val lats = QuerySet.webQueries.map { q =>
      val s0 = System.nanoTime()
      val n = Searcher.search(handle, Seq(q), QuerySet.K).count()
      val ms = (System.nanoTime() - s0) / 1e6
      System.err.println(f"[lat] q${q._1}%-3d $ms%8.1f ms  ($n rows)  '${q._2}'")
      ms
    }.sorted
    System.err.println(f"[lat] p50 ${lats(lats.length / 2)}%.1f ms  " +
      f"p95 ${lats(math.min(lats.length - 1, (lats.length * 0.95).toInt))}%.1f ms")
    spark.stop()
  }
}
