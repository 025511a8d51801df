package graft.cli

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.index.FieldedIndex
import graft.query.Searcher

/** Query-side CLI — the engine's stand-in for the reference deployment's
  * Elasticsearch `_search` endpoint (clients like Biblio-Glutton POST
  * field-targeted match queries; `SURVEY.md §3.3`):
  *
  *   runMain graft.cli.Query --index-dir DIR [--field bibliographic]
  *     [--k 10] [--type match] [--master local[*]] QUERY TEXT...
  *
  * Analyzes the query with the target field's mapped chain and serves it
  * from the field's sub-index. `--type` selects the ES query kind:
  * `match` (default), `match_and`, `phrase`, `phrase_prefix`, `fuzzy`,
  * `qstring` (simple_query_string flags), `term`, `prefix`, `wildcard`,
  * `range` (two bounds: GTE LTE), `span_near` (ordered proximity;
  * `--slop N`), `suggest`, `count`. Ranked types print one
  * `rank key score_x6` line per hit. */
object Query {

  /** Every ES query type the engine serves, selectable via `--type`. */
  val Types: Set[String] = Set("match", "match_and", "phrase",
    "phrase_prefix", "fuzzy", "qstring", "term", "prefix", "wildcard",
    "range", "regexp", "span_near", "span_near_unordered", "suggest",
    "count", "scroll")

  final case class Args(indexDir: String, field: String, k: Int,
      master: String, query: String, qtype: String = "match", slop: Int = 0)

  def parse(argv: Array[String]): Args = {
    var indexDir = "./graft-index"
    var field = "bibliographic"
    var k = 10
    var master = "local[*]"
    var qtype = "match"
    var slop = 0
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
        case "--field" => field = value("--field")
        case "--k" => k = value("--k").toInt
        case "--master" => master = value("--master")
        case "--type" => qtype = value("--type")
        case "--slop" =>
          slop =
            try value("--slop").toInt
            catch {
              case _: NumberFormatException =>
                throw Cli.CliError("--slop expects an integer")
            }
        case f if f.startsWith("--") => throw Cli.CliError(s"unknown flag $f")
        case w => rest += w
      }
      i += 1
    }
    if (!Types.contains(qtype)) throw Cli.CliError(
      s"unknown --type $qtype (one of: ${Types.toSeq.sorted.mkString(", ")})")
    if (rest.isEmpty) throw Cli.CliError(
      "usage: graft.cli.Query [--index-dir DIR] [--field F] [--k N] " +
        "[--type match|match_and|phrase|phrase_prefix|fuzzy|qstring|term|" +
        "prefix|wildcard|range|regexp|span_near|span_near_unordered|" +
        "suggest|count|scroll] [--slop N] QUERY...")
    Args(indexDir, field, k, master, rest.mkString(" "), qtype, slop)
  }

  /** Run one query; returns (rank, key, score_x6) rows. Separated from
    * [[main]] for spec-level testing. */
  def run(spark: SparkSession, a: Args): Seq[(Long, String, Long)] = {
    val spec = FieldedIndex.CrossrefMapping.find(_.field == a.field)
      .getOrElse(throw Cli.CliError(s"unknown field ${a.field} (mapped: " +
        FieldedIndex.CrossrefMapping.map(_.field).mkString(", ") + ")"))
    val hits = FieldedIndex.searchField(spark, a.indexDir, spec,
      Seq(1 -> a.query), a.k)
    val keyed = hits.join(FieldedIndex.docMap(spark, a.indexDir), "doc_id")
    val keyName = keyed.columns.last
    keyed.orderBy("rnk")
      .select(col("rnk"), col(keyName), col("score_x6"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSeq
  }

  /** Dispatch any `--type` to its engine call; returns printable lines.
    * Ranked types print `rank key score_x6`; set-valued constant-score
    * types (`term`/`prefix`/`wildcard`/`range`) print matched keys;
    * `suggest` prints `input rank suggestion df distance`; `count`
    * prints the hit count. */
  def runAny(spark: SparkSession, a: Args): Seq[String] = {
    val spec = FieldedIndex.CrossrefMapping.find(_.field == a.field)
      .getOrElse(throw Cli.CliError(s"unknown field ${a.field} (mapped: " +
        FieldedIndex.CrossrefMapping.map(_.field).mkString(", ") + ")"))
    def keyed(df: org.apache.spark.sql.DataFrame, order: Seq[String],
              cols: Seq[String]): Seq[String] = {
      val j = df.join(FieldedIndex.docMap(spark, a.indexDir), "doc_id")
      val keyName = j.columns.last
      // the key is always the last sort column: set-valued types would
      // otherwise print equal-term rows in partition order (nondeterministic
      // across runs — against the engine-wide determinism contract)
      j.orderBy((order :+ keyName).map(col): _*)
        .select(cols.map(c => if (c == "_key") col(keyName) else col(c)): _*)
        .collect().map(_.toSeq.mkString(" ")).toSeq
    }
    val ranked = Seq("rnk", "_key", "score_x6")
    a.qtype match {
      case "match" =>
        run(spark, a).map { case (r, k2, s) => s"$r $k2 $s" }
      case "match_and" =>
        keyed(FieldedIndex.query(spark, a.indexDir,
          FieldedIndex.Query.Match(spec, a.query, and = true), a.k),
          Seq("rnk"), ranked)
      case "phrase" =>
        keyed(FieldedIndex.phraseMatch(spark, a.indexDir, spec,
          Seq(1 -> a.query), a.k), Seq("rnk"), ranked)
      case "phrase_prefix" =>
        keyed(FieldedIndex.matchPhrasePrefix(spark, a.indexDir, spec,
          Seq(1 -> a.query), a.k), Seq("rnk"), ranked)
      case "fuzzy" =>
        keyed(FieldedIndex.fuzzyMatch(spark, a.indexDir, spec,
          Seq(1 -> a.query), a.k), Seq("rnk"), ranked)
      case "qstring" =>
        keyed(FieldedIndex.query(spark, a.indexDir,
          FieldedIndex.parseSimpleQuery(a.query).tree(spec), a.k),
          Seq("rnk"), ranked)
      case "term" =>
        keyed(FieldedIndex.termQuery(spark, a.indexDir, spec,
          a.query.split("\\s+").toSeq), Seq("term"), Seq("term", "_key"))
      case "prefix" =>
        keyed(FieldedIndex.prefixQuery(spark, a.indexDir, spec, a.query),
          Seq("term"), Seq("term", "_key"))
      case "wildcard" =>
        keyed(FieldedIndex.wildcardQuery(spark, a.indexDir, spec, a.query),
          Seq("term"), Seq("term", "_key"))
      case "regexp" =>
        keyed(FieldedIndex.regexpQuery(spark, a.indexDir, spec, a.query),
          Seq("term"), Seq("term", "_key"))
      case "range" =>
        val bounds = a.query.split("\\s+")
        if (bounds.length != 2) throw Cli.CliError(
          "--type range expects exactly two bounds: GTE LTE")
        val (gteB, lteB) =
          try (bounds(0).toLong, bounds(1).toLong)
          catch {
            case _: NumberFormatException => throw Cli.CliError(
              "--type range expects two integer bounds: GTE LTE")
          }
        keyed(FieldedIndex.rangeQuery(spark, a.indexDir, spec,
          gte = Some(gteB), lte = Some(lteB)),
          Seq("term"), Seq("term", "_key"))
      case "span_near" =>
        keyed(FieldedIndex.spanNear(spark, a.indexDir, spec,
          Seq((1, a.query, a.slop)), a.k), Seq("rnk"), ranked)
      case "span_near_unordered" =>
        keyed(FieldedIndex.spanNear(spark, a.indexDir, spec,
          Seq((1, a.query, a.slop)), a.k, inOrder = false),
          Seq("rnk"), ranked)
      case "suggest" =>
        FieldedIndex.termSuggest(spark, a.indexDir, spec, a.query, a.k)
          .collect().map(_.toSeq.mkString(" ")).toSeq
      case "count" =>
        FieldedIndex.countQuery(spark, a.indexDir, spec, a.query)
          .collect().map(r => s"hits ${r.getLong(0)}").toSeq
      case "scroll" =>
        // deep snapshot-pinned export: walk the scroll to exhaustion,
        // --k is the page size; prints `page rank key score_x6`
        val sc = FieldedIndex.scroll(spark, a.indexDir, spec, a.query, a.k)
        val docMap = FieldedIndex.docMap(spark, a.indexDir)
        val keyCol = col(docMap.columns.last)
        val out = Seq.newBuilder[String]
        var page = 1
        while (sc.hasMore) {
          val hits = sc.next()
          // keys for this page's doc ids only: the export never holds more
          // of doc_map than one page
          val keys = if (hits.isEmpty) Map.empty[Long, String]
            else docMap.where(col("doc_id").isin(hits.map(_._2): _*))
              .select(col("doc_id"), keyCol).collect()
              .map(r => r.getLong(0) -> r.getString(1)).toMap
          hits.foreach { case (rnk, doc, s6) =>
            out += s"$page $rnk ${keys(doc)} $s6"
          }
          page += 1
        }
        out.result()
    }
  }

  def main(argv: Array[String]): Unit = {
    val a =
      try parse(argv)
      catch {
        case e: Cli.CliError => System.err.println(e.getMessage); sys.exit(2)
      }
    val spark = Cli.session(a.master, "graft-query")
    spark.sparkContext.setLogLevel("WARN")
    try runAny(spark, a).foreach(println)
    catch {
      case e: Cli.CliError =>
        System.err.println(e.getMessage); spark.stop(); sys.exit(2)
    }
    finally spark.stop()
  }
}
