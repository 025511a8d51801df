package perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry
import graft.harness.{FieldedQueries, PipelineQueries, TextQueries}

/** `suite` (run on demand, not one of the registered workloads): one pass
  * of the 90 `SparkEntry.queries` over an sf directory, in a seed-permuted
  * order. Each query is timed to full materialisation through the `noop`
  * sink; `.count()` would let column pruning skip columns the query
  * computes. After timing, every result is written as parquet next to
  * `oracle_sql.json`, and run.py compares each with its DuckDB oracle. */
final class Suite(o: Measure.Opts, run: Run) extends Workload(o, run) {

  /** Harness family of a query, by name prefix. */
  def family(name: String): String = name match {
    case n if n.startsWith("q_field_") || n == "q_bm25_title" => "field"
    case n if n.startsWith("q_dedup_") => "dedup"
    case n if n.startsWith("q_ann_") => "ann"
    case n if n.startsWith("q_bm25_") => "bm25"
    case n if n.startsWith("q_web_") => "web"
    case n if n.startsWith("q_rel_") => "rel"
    case n if n.startsWith("q_crossref_") => "crossref"
    case _ => "text"
  }

  def execute(): Unit = {
    val sf = o.sf.getOrElse(sys.error("the suite needs --sf DIR"))
    run.calib("setup")
    // the fixture indexes the bm25_wand / fielded / ivf queries read
    val setup = phase("setup") {
      timed {
        TextQueries.ensureIndex(spark, sf)
        FieldedQueries.ensureFieldedIndex(spark)
        PipelineQueries.ensureIvfCache(spark, sf)
      }._2
    }
    run.metric("setup_s", setup, "s")
    val order = SparkEntry.queries.toSeq.sortBy(_._1)
      .sortBy { case (n, _) => Corpus.mix(o.seed ^ n.hashCode.toLong) }

    run.calib("measure")
    val times = phase("measure") {
      order.flatMap { case (name, fn) =>
        tracer.span(s"suite.${family(name)}") {
          run.op(name)(fn(spark, sf).write.format("noop").mode("overwrite").save())(_ => true)
        }.map(r => name -> r._2)
      }
    }
    run.calib("end")
    run.metric("suite_s", times.map(_._2).sum, "s")
    val byFamily = times.groupMapReduce(t => family(t._1))(_._2)(_ + _)
    Seq("field", "dedup", "ann", "bm25", "text", "web", "rel", "crossref")
      .foreach(f => run.metric(s"suite.${f}_s", byFamily.getOrElse(f, 0.0), "s"))

    phase("outputs") {
      val out = path("oracle")
      order.foreach { case (name, fn) =>
        fn(spark, sf).coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
      }
      val json = SparkEntry.oracleSql.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${Run.jsonString(k)}: ${Run.jsonString(v)}" }
        .mkString("{", ",\n", "}")
      Files.writeString(Paths.get(out, "oracle_sql.json"), json)
    }
  }
}
