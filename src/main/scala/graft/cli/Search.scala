package graft.cli

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.api.EsRequest
import graft.index.FieldedIndex

/** The `_search` endpoint stand-in that takes the REQUEST BODY itself —
  * what the reference deployment's clients POST (SURVEY §3.3):
  *
  *   runMain graft.cli.Search --index-dir DIR [--master local[*]] BODY_JSON
  *   echo '{"query": …}' | runMain graft.cli.Search --index-dir DIR -
  *
  * The body parses through [[graft.api.EsRequest]] (strict ES-style
  * parsing, every node dispatching to the gated engine call) and prints
  * one `rank key score_x6` line per hit. */
object Search {

  final case class Args(indexDir: String, master: String, body: String)

  def parse(argv: Array[String],
            stdin: => String = scala.io.Source.stdin.mkString): Args = {
    var indexDir = "./graft-index"
    var master = "local[*]"
    val rest = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    def value(flag: String): String = {
      i += 1
      if (i >= argv.length) throw Cli.CliError(s"missing value for $flag")
      argv(i)
    }
    while (i < argv.length) {
      argv(i) match {
        case "--index-dir" => indexDir = value("--index-dir")
        case "--master" => master = value("--master")
        case f if f.startsWith("--") => throw Cli.CliError(s"unknown flag $f")
        case w => rest += w
      }
      i += 1
    }
    if (rest.isEmpty) throw Cli.CliError(
      "usage: graft.cli.Search [--index-dir DIR] BODY_JSON  (or '-' for stdin)")
    val body = if (rest.length == 1 && rest.head == "-") stdin
    else rest.mkString(" ")
    Args(indexDir, master, body)
  }

  /** Run one body; prints the response frame's columns in order, with
    * doc_id swapped for the external key — `rank key score_x6` for plain
    * hits, the decoration's own shape (sort_value / collapse_value /
    * fragment) or the aggregation's frame otherwise. */
  def run(spark: SparkSession, a: Args): Seq[String] = {
    val hits =
      try EsRequest.run(spark, a.indexDir, a.body)
      catch {
        case e: IllegalArgumentException => throw Cli.CliError(e.getMessage)
      }
    val cols = hits.columns.toSeq
    val out =
      if (!cols.contains("doc_id")) hits
      else {
        val dm = FieldedIndex.docMap(spark, a.indexDir)
        val keyName = dm.columns.filter(_ != "doc_id").head
        hits.join(dm, "doc_id")
          .select(cols.map(c => if (c == "doc_id") col(keyName) else col(c)): _*)
      }
    val ordered =
      if (cols.contains("rnk")) out.orderBy("rnk") else out
    ordered.collect().map(_.toSeq.mkString(" ")).toSeq
  }

  def main(argv: Array[String]): Unit = {
    val a =
      try parse(argv)
      catch {
        case e: Cli.CliError => System.err.println(e.getMessage); sys.exit(2)
      }
    val spark = Cli.session(a.master, "graft-search")
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, a).foreach(println)
    catch {
      case e: Cli.CliError =>
        System.err.println(e.getMessage); spark.stop(); sys.exit(2)
    }
    finally spark.stop()
  }
}
