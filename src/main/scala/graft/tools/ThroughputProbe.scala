package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

import graft.harness.QuerySet
import graft.query.Searcher

/** Concurrent-client query-throughput probe (QPS) against an existing
  * index: `runMain graft.tools.ThroughputProbe [indexDir] [clients]
  * [seconds]`. Each client thread loops the 20-query webtext set against
  * ONE shared resident handle — the serving-node model under load (cached
  * shard partitions, per-query θ boards are (run, qid)-keyed so concurrent
  * queries never share state). Complements perfbench `serve`'s
  * one-client latency numbers with a saturation datapoint. */
object ThroughputProbe {
  def main(args: Array[String]): Unit = {
    val idxDir =
      if (args.nonEmpty) args(0)
      else s"${sys.props("user.dir")}/target/bench-idx/peak32"
    val clients = if (args.length > 1) args(1).toInt else 8
    val seconds = if (args.length > 2) args(2).toInt else 30
    val spark = SparkSession.builder().master("local[32]")
      .appName("throughput-probe")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // FAIR scheduling pools would be the cluster knob for latency isolation
    // under load; FIFO is fine for a throughput measurement.

    val handle = Searcher.open(spark, idxDir)
    QuerySet.webQueries.foreach(q => // warm: JIT + df cache
      Searcher.search(handle, Seq(q), QuerySet.K).count())

    val done = new AtomicLong()
    val stopAt = System.nanoTime() + seconds * 1000000000L
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        var i = c // stagger starting offsets across clients
        while (System.nanoTime() < stopAt) {
          val q = QuerySet.webQueries(i % QuerySet.webQueries.length)
          Searcher.search(handle, Seq(q), QuerySet.K).count()
          done.incrementAndGet()
          i += 1
        }
      }, s"client-$c")
      t.setDaemon(true); t.start(); t
    }
    threads.foreach(_.join())
    val qps = done.get().toDouble / seconds
    System.err.println(
      f"[qps] clients=$clients window=${seconds}s queries=${done.get()} qps=$qps%.1f")
    handle.close()
    spark.stop()
  }
}
