package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.api.EsRequest
import graft.harness.FieldedQueries
import graft.index.FieldedIndex

/** The ES request-body surface: every DSL node must execute to EXACTLY the
  * engine call it parses to (row-for-row equality over the fixture index;
  * for the bool family, whose typed calls share the query tree's lowering,
  * the declarative naive twins of [[FieldedNaive]]), and malformed bodies
  * must fail loudly with the offending path — the ES parsing_exception
  * contract, no silent key-dropping or coercion. */
class EsDslSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val idx = FieldedQueries.ensureFieldedIndex(spark)
  private def spec(f: String) =
    FieldedIndex.CrossrefMapping.find(_.field == f).get

  private def rows(df: DataFrame): Seq[(Long, Long, Long)] =
    df.orderBy("rnk").collect()
      .map(r => (r.getAs[Long]("rnk"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("score_x6"))).toSeq

  private def run(body: String): Seq[(Long, Long, Long)] =
    rows(EsRequest.run(spark, idx, body))

  private def dropQid(df: DataFrame): DataFrame =
    df.select("rnk", "doc_id", "score_x6")

  test("match family ≡ typed calls") {
    assert(run("""{"query":{"match":{"title":"title 42"}}}""") ===
      rows(dropQid(FieldedIndex.searchField(spark, idx, spec("title"),
        Seq(1 -> "title 42"), 10))))
    // operator=and: every term a required leg of the naive bool
    assert(run(
      """{"query":{"match":{"title":{"query":"record 42","operator":"and"}}},"size":5}""") ===
      rows(FieldedNaive.esBoolNaive(spark, idx,
        must = Seq(spec("title") -> "record", spec("title") -> "42"), k = 5)))
    // only doc 42 holds both terms, and it tops the boosted OR ranking
    assert(run(
      """{"query":{"match":{"title":{"query":"record 42","operator":"and",
        |"boost":2.0}}}}""".stripMargin) ===
      rows(FieldedNaive.multiMatchBoostNaive(spark, idx,
        Seq((spec("title"), "record 42", 2.0)), 1)))
    assert(run(
      """{"query":{"match":{"title":{"query":"recrod","fuzziness":1}}}}""") ===
      rows(dropQid(FieldedIndex.fuzzyMatch(spark, idx, spec("title"),
        Seq(1 -> "recrod"), 10, fuzziness = 1))))
    assert(run(
      """{"query":{"match":{"title":{"query":"title 42","boost":2.0}}}}""") ===
      rows(FieldedNaive.multiMatchBoostNaive(spark, idx,
        Seq((spec("title"), "title 42", 2.0)), 10)))
    // term: a match of the one value
    assert(run("""{"query":{"term":{"year":{"value":"1997"}}}}""") ===
      rows(dropQid(FieldedIndex.searchField(spark, idx, spec("year"),
        Seq(1 -> "1997"), 10))))
    assert(run("""{"query":{"match_phrase":{"title":"title 42"}}}""") ===
      rows(dropQid(FieldedIndex.phraseMatch(spark, idx, spec("title"),
        Seq(1 -> "title 42"), 10))))
    assert(run("""{"query":{"match_bool_prefix":{"title":"second 42 99"}}}""") ===
      rows(FieldedIndex.matchBoolPrefix(spark, idx, spec("title"),
        "second 42 99", 10)))
  }

  test("the Biblio-Glutton request shape: bool/should of per-field matches") {
    val body =
      """{"query":{"bool":{"should":[
        |  {"match":{"bibliographic":"fam123 Record 123 title Journal 123"}},
        |  {"match":{"year":"1993"}},
        |  {"match":{"volume":"23"}}]}},
        | "size":10}""".stripMargin
    val legs = FieldedQueries.MultiLegs.map { case (f, t) => (spec(f), t) }
    assert(run(body) === rows(FieldedNaive.multiMatchNaive(spark, idx, legs, 10)))
    // the cited doc tops, as in the gated q_field_multi
    assert(run(body).head._1 === 1L)
  }

  test("bool with filter / must_not / minimum_should_match") {
    val filtered =
      """{"query":{"bool":{
        |  "should":[{"match":{"title":"title 7"}}],
        |  "filter":[{"term":{"year":"1997"}}]}}}""".stripMargin
    assert(run(filtered) === rows(FieldedNaive.filteredMatchNaive(spark, idx,
      spec("title"), "title 7", spec("year"), Seq("1997"), 10)))
    val msm =
      """{"query":{"bool":{
        |  "should":[{"match":{"bibliographic":"fam123 fam223 fam323"}},
        |            {"match":{"year":"1993"}},{"match":{"volume":"23"}}],
        |  "minimum_should_match":2}}}""".stripMargin
    val legs = FieldedQueries.MsmLegs.map { case (f, t) => (spec(f), t) }
    assert(run(msm) ===
      rows(FieldedNaive.boolQueryNaive(spark, idx, legs, Nil, 10, 2)))
    // a negative count leaves that many should clauses optional: −1 over
    // the 3 clauses requires 2, not the default 1
    val negative = msm.replace("\"minimum_should_match\":2",
      "\"minimum_should_match\":-1")
    assert(negative !== msm)
    assert(run(negative) ===
      rows(FieldedNaive.boolQueryNaive(spark, idx, legs, Nil, 10, 2)))
    assert(run(negative) !==
      rows(FieldedNaive.boolQueryNaive(spark, idx, legs, Nil, 10, 1)))
    val notBody =
      """{"query":{"bool":{
        |  "should":[{"match":{"title":"title 7"}}],
        |  "must_not":[{"term":{"year":"1997"}}]}}}""".stripMargin
    // doc 7 (year 1997) is excluded by the must_not
    val docMap = spark.read.parquet(s"$idx/doc_map")
    val keys = EsRequest.run(spark, idx, notBody).join(docMap, "doc_id")
      .collect().map(_.getAs[String]("doi")).toSet
    assert(!keys.contains("10.1/nd.7"))
  }

  test("constant-score family: term set shapes with doc-order ranks") {
    val r = run("""{"query":{"prefix":{"DOI":{"value":"10.1/nd.99"}}}},""".stripMargin
      .stripSuffix(","))
    assert(r.size === 10 && r.forall(_._3 === 1000000L))
    assert(r.map(_._2) === r.map(_._2).sorted)
    val range = run(
      """{"query":{"range":{"year":{"gte":1993,"lte":1995}}},"size":200}""")
    assert(range.size === 102) // the 1993/1994/1995 cohorts, 34 docs each
    val cs = run(
      """{"query":{"constant_score":{"filter":{"term":{"year":"1997"}},"boost":2.5}}}""")
    assert(cs.forall(_._3 === 2500000L))
    val ex = run("""{"query":{"exists":{"field":"volume"}},"size":2000}""")
    assert(ex.size === 1000)
  }

  test("span_near, dis_max, more_like_this, boosting bodies") {
    assert(run(
      """{"query":{"span_near":{"clauses":[
        |  {"span_term":{"title":"record"}},{"span_term":{"title":"title"}}],
        |  "slop":1,"in_order":true}}}""".stripMargin) ===
      rows(dropQid(FieldedIndex.spanNear(spark, idx, spec("title"),
        Seq((1, "record title", 1)), 10))))
    assert(run(
      """{"query":{"span_near":{"clauses":[
        |  {"span_term":{"title":"42"}},{"span_term":{"title":"record"}}],
        |  "slop":0,"in_order":false}}}""".stripMargin) ===
      rows(dropQid(FieldedIndex.spanNear(spark, idx, spec("title"),
        Seq((1, "42 record", 0)), 10, inOrder = false))))
    val dm =
      """{"query":{"dis_max":{"queries":[
        |  {"match":{"bibliographic":"fam123 Record 123 title Journal 123"}},
        |  {"match":{"year":"1993"}},{"match":{"volume":"23"}}],
        |  "tie_breaker":0.3}}}""".stripMargin
    val legs = FieldedQueries.MultiLegs.map { case (f, t) => (spec(f), t) }
    assert(run(dm) === rows(FieldedNaive.disMaxNaive(spark, idx, legs, 10, 0.3)))
    val mlt =
      """{"query":{"more_like_this":{"fields":["bibliographic"],
        |  "like":[{"_id":"10.1/nd.123"}],"min_term_freq":1,
        |  "min_doc_freq":2,"max_query_terms":4,
        |  "minimum_should_match":"30%"}}}""".stripMargin
    assert(run(mlt) === rows(FieldedIndex.moreLikeThis(spark, idx,
      spec("bibliographic"), "10.1/nd.123", 10, 1, 2, 4, 30)))
    val boosting =
      """{"query":{"boosting":{"positive":{"match":{"title":"title 7"}},
        |  "negative":{"match":{"year":"1997"}},"negative_boost":0.4}}}""".stripMargin
    assert(run(boosting) === rows(FieldedIndex.boostingQuery(spark, idx,
      spec("title"), "title 7", spec("year"), "1997", 0.4, 10)))
  }

  test("function_score body ≡ typed functions") {
    val body =
      """{"query":{"function_score":{
        |  "query":{"match":{"title":"title 7"}},
        |  "functions":[
        |    {"gauss":{"year":{"origin":1997,"scale":10,"decay":0.5}}},
        |    {"weight":1.2},
        |    {"field_value_factor":{"field":"volume","factor":0.1,
        |      "modifier":"sqrt","missing":1.0}}],
        |  "score_mode":"multiply","boost_mode":"multiply"}}}""".stripMargin
    import FieldedIndex.ScoreFunction._
    val typed = FieldedIndex.functionScore(spark, idx, spec("title"),
      "title 7", Seq(
        Gauss(spec("year"), 1997, 10, 0.0, 0.5),
        Weight(1.2),
        FieldValueFactor(spec("volume"), 0.1, "sqrt", 1.0)),
      10, "multiply", "multiply")
    assert(run(body) === rows(typed))
  }

  test("aggs bodies ≡ typed aggregations") {
    def agg(body: String): DataFrame = EsRequest.run(spark, idx, body)
    assert(agg("""{"aggs":{"years":{"terms":{"field":"year","size":10}}}}""")
      .collect().toSeq ===
      FieldedIndex.termsAgg(spark, idx, spec("year"), 10).collect().toSeq)
    assert(agg(
      """{"aggs":{"y":{"terms":{"field":"year","size":10},
        |"aggs":{"v":{"stats":{"field":"volume"}}}}}}""".stripMargin)
      .collect().toSeq ===
      FieldedIndex.termsStatsAgg(spark, idx, spec("year"), spec("volume"), 10)
        .collect().toSeq)
    assert(agg(
      """{"aggs":{"h":{"histogram":{"field":"year","interval":5}}}}""")
      .collect().toSeq ===
      FieldedIndex.histogramAgg(spark, idx, spec("year"), 5).collect().toSeq)
    assert(agg(
      """{"aggs":{"p":{"percentile_ranks":{"field":"year","values":[1995,2004]}}}}""")
      .collect().toSeq ===
      FieldedIndex.percentileRanksAgg(spark, idx, spec("year"),
        Seq(1995L, 2004L)).collect().toSeq)
    assert(agg(
      """{"aggs":{"c":{"composite":{"size":5,
        |"sources":[{"y":{"terms":{"field":"year"}}},
        |           {"v":{"terms":{"field":"volume"}}}],
        |"after":{"year":"1992","volume":"30"}}}}}""".stripMargin)
      .collect().toSeq ===
      FieldedIndex.compositeAgg(spark, idx,
        Seq(spec("year"), spec("volume")), 5,
        Some(Seq("1992", "30"))).collect().toSeq)
    assert(agg(
      """{"aggs":{"m":{"missing":{"field":"abbreviated_journal"}}}}""")
      .collect().head.getLong(0) === 1000L)
    assert(agg(
      """{"aggs":{"f":{"filter":{"term":{"year":"1997"}},
        |"aggs":{"v":{"stats":{"field":"volume"}}}}}}""".stripMargin)
      .collect().toSeq ===
      FieldedIndex.filterStatsAgg(spark, idx, spec("year"), Seq("1997"),
        spec("volume")).collect().toSeq)
    // strictness: query+aggs refuse; two aggs refuse; size!=0 refuses
    def bad(body: String, frag: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        EsRequest.run(spark, idx, body).collect() }
      assert(e.getMessage.contains(frag), s"got: ${e.getMessage}")
    }
    bad("""{"query":{"match":{"title":"x"}},"aggs":{"a":{"stats":{"field":"year"}}}}""",
      "not combined")
    bad("""{"aggs":{"a":{"stats":{"field":"year"}}},"size":5}""", "size 0")
    bad("""{"aggs":{"a":{"rare_terms":{"field":"year"}}}}""",
      "unsupported aggregation")
    // a decoration beside an aggs body is refused, never silently dropped
    bad("""{"aggs":{"a":{"stats":{"field":"year"}}},
      |"sort":[{"year":{"order":"asc"}}]}""".stripMargin, "aggs body")
  }

  test("top-level decorations: sort, search_after, collapse, highlight, rescore") {
    // sort: a term-filter cohort in doc-value order
    assert(EsRequest.run(spark, idx,
      """{"query":{"term":{"year":"1997"}},
        |"sort":[{"volume":{"order":"desc"}}],"size":5}""".stripMargin)
      .collect().toSeq ===
      FieldedIndex.sortByField(spark, idx, spec("year"), Seq("1997"),
        spec("volume"), descending = true, 5).collect().toSeq)
    // search_after: the cursor law [score_x6, doc_id]
    val base = run("""{"query":{"match":{"title":"title 7"}},"size":3}""")
    val (_, d3, s3) = base(2)
    assert(EsRequest.run(spark, idx,
      s"""{"query":{"match":{"title":"title 7"}},
         |"search_after":[$s3,$d3],"size":3}""".stripMargin)
      .collect().toSeq ===
      FieldedIndex.searchAfter(spark, idx, spec("title"), "title 7", 3,
        s3, d3).collect().toSeq)
    // collapse
    assert(EsRequest.run(spark, idx,
      """{"query":{"match":{"title":"title 7"}},
        |"collapse":{"field":"year"},"size":5}""".stripMargin)
      .collect().toSeq ===
      FieldedIndex.collapseSearch(spark, idx, spec("title"), "title 7",
        spec("year"), 5).collect().toSeq)
    // highlight serves fragments of the matched field
    val frags = EsRequest.run(spark, idx,
      """{"query":{"match":{"title":"title 42"}},
        |"highlight":{"fields":{"title":{}}},"size":2}""".stripMargin)
      .collect()
    assert(frags.nonEmpty &&
      frags.exists(_.getAs[String]("fragment").contains("<em>")))
    // rescore: windowed phrase re-rank
    assert(EsRequest.run(spark, idx,
      """{"query":{"match":{"title":"second title"}},
        |"rescore":{"window_size":50,"query":{
        |  "rescore_query":{"match_phrase":{"title":"title 42"}},
        |  "query_weight":1.0,"rescore_query_weight":2.0}},
        |"size":10}""".stripMargin).collect().toSeq ===
      FieldedIndex.rescorePhrase(spark, idx, spec("title"), "second title",
        "title 42", 10, 50, 1.0, 2.0).collect().toSeq)
    // strictness: two decorations refuse; from+cursor refuses; wrong
    // highlight field refuses
    def bad(body: String, frag: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        EsRequest.run(spark, idx, body).collect() }
      assert(e.getMessage.contains(frag), s"got: ${e.getMessage}")
    }
    bad("""{"query":{"match":{"title":"x"}},"collapse":{"field":"year"},
      |"sort":[{"year":{"order":"asc"}}]}""".stripMargin, "one of")
    bad("""{"query":{"match":{"title":"x"}},"search_after":[1,2],"from":3}""",
      "does not compose")
    // non-numeric cursors refuse instead of coercing to 0
    bad("""{"query":{"match":{"title":"x"}},"search_after":["a","b"]}""",
      "two integers")
    bad("""{"query":{"match":{"title":"x"}},
      |"highlight":{"fields":{"year":{}}}}""".stripMargin, "matched")
  }

  test("from/size slice the absolute ranking") {
    val all = run("""{"query":{"match":{"title":"title 42"}},"size":7}""")
    val page = run(
      """{"query":{"match":{"title":"title 42"}},"from":3,"size":4}""")
    assert(page === all.drop(3).map { case (r, d, s) => (r - 3, d, s) })
  }

  test("strict parsing: unknown keys, types, fields, and bad shapes refuse") {
    def bad(body: String, frag: String): Unit = {
      val e = intercept[IllegalArgumentException] { run(body) }
      assert(e.getMessage.contains("parsing_exception") &&
        e.getMessage.contains(frag), s"got: ${e.getMessage}")
    }
    bad("""{"query":{"match":{"title":"x"}},"explain":true}""", "unknown key")
    bad("""{"query":{"matcc":{"title":"x"}}}""", "unsupported query type")
    bad("""{"query":{"match":{"nope":"x"}}}""", "unknown field")
    bad("""{"query":{"match":{"title":{"query":"x","analyzer":"y"}}}}""",
      "unknown key")
    bad("""{"query":{"match_phrase":{"title":{"query":"a b","slop":2}}}}""",
      "span_near")
    bad("""{"query":{"span_near":{"clauses":[{"span_term":{"title":"a"}}],
      |"slop":1}}}""".stripMargin, "in_order")
    bad("""{"query":{"bool":{"should":[{"prefix":{"DOI":"1"}}]}}}""",
      "match / match_phrase")
    bad("""{"not json""", "malformed JSON")
    bad("""{"query":{"match":{"title":"x"}},"size":0}""", "size")
    bad("""{"query":{"match":{"title":"x"}},"size":1.5}""", "integer")
    // fuzziness: AUTO or 0, 1, 2 edits, on match and fuzzy alike; anything
    // else refuses rather than becoming some edit count
    for (f <- Seq("\"two\"", "\"AUTO:3,6\"", "true", "1.7", "3", "-1")) {
      bad(s"""{"query":{"match":{"title":{"query":"recrod","fuzziness":$f}}}}""",
        "fuzziness")
      bad(s"""{"query":{"fuzzy":{"title":{"value":"recrod","fuzziness":$f}}}}""",
        "fuzziness")
    }
    // array elements and percent strings follow the scalar rules
    bad("""{"aggs":{"p":{"percentiles":{"field":"year","percents":["abc"]}}}}""",
      "percents")
    bad("""{"aggs":{"p":{"percentile_ranks":{"field":"year","values":["abc"]}}}}""",
      "values")
    bad("""{"aggs":{"p":{"percentile_ranks":{"field":"year","values":[1995.5]}}}}""",
      "values")
    bad("""{"query":{"bool":{"should":[{"match":{"title":"x"}}],
      |"filter":[{"terms":{"year":[{"a":1}]}}]}}}""".stripMargin,
      "strings or numbers")
    for (pct <- Seq("\"abc%\"", "\"150%\"", "\"30\"", "30"))
      bad(s"""{"query":{"more_like_this":{"fields":["bibliographic"],
        |"like":[{"_id":"10.1/nd.123"}],"minimum_should_match":$pct}}}""".stripMargin,
        "percent string")
  }
}
