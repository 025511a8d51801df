package graft.harness

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analysis.Analyzer
import graft.extract.{Crossref, CrossrefFixtures, CrossrefReader}
import graft.index.FieldedIndex
import graft.index.FieldedIndex.Query
import graft.io.TableIO

/** Fielded-index oracle queries over the crossref fixture: the reference's
  * per-field analyzers actually queried per field (the Biblio-Glutton
  * pattern — DOI exact match, metadata keyword matches, per-field BM25 —
  * `elastic/settings.go:87-138`), each replayed in DuckDB SQL over the same
  * fixture file.
  *
  * Doc-identity note: internal doc_ids are invisible to the oracle, so the
  * fixture corpus is staged SORTED BY DOI — doc_id order == lexicographic
  * DOI order — and both engines break score ties by the SAME key (Spark by
  * doc_id, the oracle by doi). */
object FieldedQueries {

  private val IdxVersion = "v1"

  /** DOI term queries (keyword chain: whole string, lowercased) — mixed
    * case exercises the analyzer, one miss exercises absence. */
  val DoiQueries: Seq[String] =
    Seq("10.1/ND.7", "10.1/nd.123", "10.1/Nd.999", "10.1/absent")

  /** year term query (folding-keyword chain over the stringified year). */
  val YearQuery: String = "1997"

  /** ES bool/should multi-field match (the Biblio-Glutton pattern): a
    * citation-string match on `bibliographic` plus keyword matches on
    * `year` and `volume`, ranked by the SUM of per-field BM25 scores.
    * Doc 123 (year 1993, volume 23) is the intended hit. */
  val MultiLegs: Seq[(String, String)] = Seq(
    "bibliographic" -> "fam123 Record 123 title Journal 123",
    "year" -> "1993",
    "volume" -> "23")

  /** minimum_should_match legs: every leg is selective (the [[MultiLegs]]
    * bibliographic leg matches every doc via its common tokens, which
    * would make msm=2 a no-op there). bib leg = three author family
    * tokens → docs {123, 223, 323}; year 1993 → i ≡ 3 (mod 30); volume
    * 23 → i ≡ 23 (mod 50). msm=2 admits exactly the pairwise
    * intersections: {123, 223, 273, 323, 423, 573, 723, 873}. */
  val MsmLegs: Seq[(String, String)] = Seq(
    "bibliographic" -> "fam123 fam223 fam323",
    "year" -> "1993",
    "volume" -> "23")

  /** ES bool filter+must: match `title` in query context, FILTER by
    * year=1997 in filter context (unscored) — top-k of the filtered set.
    * Doc 7 (year 1997) carries the discriminative "7"; docs of other
    * years never appear however well they match. */
  val FilteredMatchText = "title 7"
  val FilteredYear = "1997"

  /** match_phrase queries over the multi-valued `title` field
    * (["Record $i title", "second title $i"], value 2 offset = 3 + gap):
    * a mass-tie phrase (every doc, pf=1), a discriminative one (doc 42
    * only, via value 2's "title 42"), a CROSS-VALUE phrase that must match
    * nothing (the position_increment_gap contract), and a single-term
    * phrase (pf = tf = 2). */
  val PhraseQueries: Seq[(Int, String)] = Seq(
    1 -> "second title",
    2 -> "title 42",
    3 -> "title second", // only adjacent across the value boundary — no match
    4 -> "title")

  /** Per-field BM25 queries over `title` (text+stop chain). Fixture titles
    * are ["Record $i title", "second title $i"], so each query has one
    * discriminative numeric term; the tie-broken tail ranks exercise the
    * deterministic ordering hard (999 equal-score docs). */
  val TitleQueries: Seq[(Int, String)] =
    Seq(1 -> "title 42", 2 -> "second 7 record", 3 -> "RECORD 999")

  val K = 10

  private def fixtures(): String = CrossrefFixtures.ensure(Oracle.fixturesDir)

  private def spec(field: String): FieldedIndex.FieldSpec =
    FieldedIndex.CrossrefMapping.find(_.field == field).get

  /** Build (once per JVM/target dir, snapshot-idempotent) the fielded index
    * over the 1000-doc ndjson fixture through the REAL extract path. */
  def ensureFieldedIndex(spark: SparkSession): String = {
    val fix = fixtures()
    val dir = s"${sys.props("user.dir")}/target/graft-idx/fielded_$IdxVersion"
    if (!FieldedIndex.isComplete(dir)) {
      new TableIO(dir).deleteAll()
      val pubs = Crossref.simplify(
        CrossrefReader.load(spark, s"$fix/ndjson_plain.ndjson"))
      val docs = pubs.orderBy("DOI") // doc_id order == doi order (tie-break)
      FieldedIndex.build(spark, docs, dir, FieldedIndex.CrossrefMapping,
        keyCol = "doi",
        graft.index.PostingsBuilder.Config(shardSize = 256))
    }
    dir
  }

  private def docMap(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/doc_map")

  // ---- Spark sides --------------------------------------------------------

  /** ES term query on the keyword-analyzed DOI field → matching dois. */
  def fieldDoi(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    FieldedIndex.termQuery(spark, dir, spec("DOI"), DoiQueries)
      .join(docMap(spark, dir), "doc_id")
      .select(col("doi")).orderBy("doi")
  }

  /** ES term query on the folding-keyword year field → matching dois. */
  def fieldYear(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    FieldedIndex.termQuery(spark, dir, spec("year"), Seq(YearQuery))
      .join(docMap(spark, dir), "doc_id")
      .select(col("doi")).orderBy("doi")
  }

  /** ES match query on the title field: BM25 with the FIELD's stats
    * (df/dl/avgdl/N over title tokens only). */
  def bm25Title(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    FieldedIndex.searchField(spark, dir, spec("title"), TitleQueries, K)
      .join(docMap(spark, dir), "doc_id")
      .select(col("qid"), col("rnk"), col("doi"), col("score_x6"))
      .orderBy("qid", "rnk")
  }

  /** (field, text) legs such as [[MultiLegs]] as match leaves. */
  private def multiLeaves(legs: Seq[(String, String)]): Seq[Query] =
    legs.map { case (f, text) => Query.Match(spec(f), text) }

  /** Multi-field bool/should: per-leg BM25 under each field's own stats,
    * summed per doc, deterministic top-k (combined-bound WAND path). */
  def fieldMulti(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    FieldedIndex.query(spark, dir,
      Query.Bool(should = multiLeaves(MultiLegs)), K)
      .join(docMap(spark, dir), "doc_id")
      .select(col("rnk"), col("doi"), col("score_x6"))
      .orderBy("rnk")
  }

  /** Bool/should with `minimum_should_match: 2` (the ES bool parameter
    * citation matchers use) over the selective [[MsmLegs]]: docs matching
    * only ONE leg are excluded however well they score. */
  def fieldMsm(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    FieldedIndex.query(spark, dir,
      Query.Bool(should = multiLeaves(MsmLegs), minShouldMatch = Some(2)), K)
      .join(docMap(spark, dir), "doc_id")
      .select(col("rnk"), col("doi"), col("score_x6"))
      .orderBy("rnk")
  }

  /** Per-leg boosts for the boosted bool/should query (the ES
    * `fields: ["bibliographic^0.5", "year^2", "volume^3"]` pattern):
    * down-boosting the broad citation leg and up-boosting the keyword
    * cohorts reorders the top-k vs [[fieldMulti]] — year/volume cohort
    * members overtake pure-text matches — so the gate proves the boost
    * actually reaches the ranking, not just the score scale. All three
    * values are exactly representable doubles (no literal-parsing skew
    * between engines). */
  val MultiBoosts: Seq[Double] = Seq(0.5, 2.0, 3.0)

  /** Boosted multi-field bool/should: leg score × boost, summed —
    * served by the same combined-bound WAND (boost pre-multiplied into
    * each leg's cursor idf and bounds). */
  def fieldBoost(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    val legs = MultiLegs.zip(MultiBoosts).map { case ((f, text), b) =>
      Query.Match(spec(f), text, b)
    }
    FieldedIndex.query(spark, dir, Query.Bool(should = legs), K)
      .join(docMap(spark, dir), "doc_id")
      .select(col("rnk"), col("doi"), col("score_x6"))
      .orderBy("rnk")
  }

  /** match operator=and query: all three terms required — the OR form
    * matches every doc (second/title are universal), AND matches doc 42
    * only. */
  val MatchAndQuery = "second title 42"

  def fieldMatchAnd(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    FieldedIndex.query(spark, dir,
      Query.Match(spec("title"), MatchAndQuery, and = true), K)
      .join(docMap(spark, dir), "doc_id")
      .select(col("rnk"), col("doi"), col("score_x6"))
      .orderBy("rnk")
  }

  /** operator=and replay: the bm25Title CTE structure with a HAVING over
    * the DISTINCT matched query terms. */
  def fieldMatchAndSql: String = {
    val stopIn = Analyzer.EnglishStopSorted.map(s => s"'$s'").mkString(", ")
    val ws = Analyzer.analyzeStop(MatchAndQuery)
      .groupBy(identity).view.mapValues(_.length).toSeq.sortBy(_._1)
    val qvals = ws.map { case (t, w) => s"('$t', $w)" }.mkString(", ")
    s"""WITH src0 AS (SELECT DOI AS doi, title FROM (${fixtureSrc()})),
       |src AS (SELECT doi, title FROM src0
       |        WHERE len(list_filter(title, t -> t IS NOT NULL AND t <> '')) > 0),
       |el AS (SELECT doi, unnest(title) AS el FROM src),
       |tok AS (SELECT doi, t AS term FROM
       |          (SELECT doi, unnest(string_split(lower(el), ' ')) AS t FROM el)
       |        WHERE t <> '' AND t NOT IN ($stopIn)),
       |tf AS (SELECT doi, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
       |dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
       |dl AS (SELECT s.doi, count(t.term)::BIGINT AS dl
       |       FROM src s LEFT JOIN tok t USING (doi) GROUP BY s.doi),
       |stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
       |q(term, w) AS (VALUES $qvals),
       |scored AS (
       |  SELECT tf.doi, sum(q.w * ${Oracle.bm25Expr}) AS score
       |  FROM q
       |  JOIN tf ON tf.term = q.term
       |  JOIN dft ON dft.term = q.term
       |  JOIN dl ON dl.doi = tf.doi
       |  CROSS JOIN stats s
       |  GROUP BY tf.doi
       |  HAVING count(DISTINCT q.term) = ${ws.size}),
       |ranked AS (
       |  SELECT doi, CAST(round(score * 1000000.0) AS BIGINT) AS score_x6,
       |    row_number() OVER (ORDER BY CAST(round(score * 1000000.0) AS BIGINT) DESC,
       |                       doi ASC) AS rnk
       |  FROM scored)
       |SELECT rnk, doi, score_x6 FROM ranked WHERE rnk <= $K ORDER BY rnk""".stripMargin
  }

  /** ES dis_max / multi_match best_fields over the same citation legs:
    * rank by max(leg) + tie_breaker·Σ(others). */
  def fieldDisMax(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    FieldedIndex.query(spark, dir,
      Query.DisMax(multiLeaves(MultiLegs), DisMaxTieBreaker), K)
      .join(docMap(spark, dir), "doc_id")
      .select(col("rnk"), col("doi"), col("score_x6"))
      .orderBy("rnk")
  }

  /** ES match_phrase on the title field: positions-exact adjacency with
    * multi-value gap semantics, scored by phrase frequency. */
  def fieldPhrase(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    FieldedIndex.phraseMatch(spark, dir, spec("title"), PhraseQueries, K)
      .join(docMap(spark, dir), "doc_id")
      .select(col("qid"), col("rnk"), col("doi"), col("score_x6"))
      .orderBy("qid", "rnk")
  }

  /** span_near (in_order) queries over the positioned title field
    * (["Record $i title", "second title $i"], value-2 offset 103): a
    * one-gap proximity mass tie, an adjacent selective pair, a value-2
    * tail pair needing one slop, the cross-value pair one short of the
    * gap (must be EMPTY — the position_increment_gap contract), and the
    * same pair at exactly gap cost (bridges, weight 1/101). */
  val SpanNearQueries: Seq[(Int, String, Int)] = Seq(
    (1, "record title", 1),
    (2, "record 42", 0),
    (3, "second 7", 1),
    (4, "title second", 99),
    (5, "title second", 100))

  def fieldSpanNear(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    FieldedIndex.spanNear(spark, dir, spec("title"), SpanNearQueries, K)
      .join(docMap(spark, dir), "doc_id")
      .select(col("qid"), col("rnk"), col("doi"), col("score_x6"))
      .orderBy("qid", "rnk")
  }

  /** match_bool_prefix: "second" + "42" score BM25; trailing "99" is the
    * prefix clause (+1.0 to the 11 docs whose number starts with 99) —
    * doc 42 tops on idf, the prefix cohort fills the tail by the union. */
  val BoolPrefixText = "second 42 99"

  def fieldBoolPrefix(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    FieldedIndex.matchBoolPrefix(spark, dir, spec("title"), BoolPrefixText, K)
      .join(docMap(spark, dir), "doc_id")
      .select(col("rnk"), col("doi"), col("score_x6"))
      .orderBy("rnk")
  }

  /** Unordered span_near queries: reversed clause order must still match
    * (the whole point of in_order: false) — "7 second" finds doc 7's
    * value-2 tail at one slop, "42 record" finds the adjacent pair at
    * zero, and "title record" mass-ties at one. */
  val SpanNearUnorderedQueries: Seq[(Int, String, Int)] = Seq(
    (1, "7 second", 1),
    (2, "42 record", 0),
    (3, "title record", 1))

  def fieldSpanUnordered(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    FieldedIndex.spanNear(spark, dir, spec("title"),
      SpanNearUnorderedQueries, K, inOrder = false)
      .join(docMap(spark, dir), "doc_id")
      .select(col("qid"), col("rnk"), col("doi"), col("score_x6"))
      .orderBy("qid", "rnk")
  }

  /** The ES request BODY itself, through the strict DSL parser — the
    * reference's actual client shape (a bool/should of per-field matches)
    * must parse+execute to the same ranking [[fieldMulti]] serves,
    * gated by the SAME oracle SQL as q_field_multi. */
  val GluttonBody: String =
    """{"query":{"bool":{"should":[
      |  {"match":{"bibliographic":"fam123 Record 123 title Journal 123"}},
      |  {"match":{"year":"1993"}},
      |  {"match":{"volume":"23"}}]}},
      | "size":10}""".stripMargin

  def fieldDsl(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    graft.api.EsRequest.run(spark, dir, GluttonBody)
      .join(docMap(spark, dir), "doc_id")
      .select(col("rnk"), col("doi"), col("score_x6"))
      .orderBy("rnk")
  }

  /** DSL replay = the multi-match replay: the body IS MultiLegs. */
  def fieldDslSql: String = fieldMultiSql

  /** more_like_this seed: doc 123's bibliographic term vector selects
    * {123, 223, 23, 1993} by tf·idf under (mtf 1, mdf 2, max 4) — doc 23
    * shares "123" (its page) and "23" ×3, doc 223 shares "223" and the
    * volume — the engine must surface exactly those as most-alike. */
  val MltKey = "10.1/nd.123"
  val MltParams = (1, 2, 4, 30) // minTermFreq, minDocFreq, maxQueryTerms, msm%

  def fieldMlt(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    val (mtf, mdf, mqt, pct) = MltParams
    FieldedIndex.moreLikeThis(spark, dir, spec("bibliographic"), MltKey, K,
      mtf, mdf, mqt, pct)
      .join(docMap(spark, dir), "doc_id")
      .select(col("rnk"), col("doi"), col("score_x6"))
      .orderBy("rnk")
  }

  /** Bool-with-phrase clauses (Lucene bool-over-phrase): qid 1 sums the
    * citation match leg with a MASS phrase clause ("second title" — every
    * doc, pf=1, scores split only by dl — a hard tie-break exercise); qid 2
    * pairs the same leg with the SELECTIVE phrase "title 42" under
    * minimum_should_match=2, so only the doc matching BOTH clauses
    * survives (msm must count position-CONFIRMED phrases, not term
    * conjunctions). */
  val BoolPhraseMass = "second title"
  val BoolPhraseSelective = "title 42"

  def fieldBoolPhrase(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    val bib = multiLeaves(MultiLegs.take(1))
    val q1 = FieldedIndex.query(spark, dir, Query.Bool(should =
      bib :+ Query.Phrase(spec("title"), BoolPhraseMass)), K)
      .withColumn("qid", lit(1L))
    val q2 = FieldedIndex.query(spark, dir, Query.Bool(should =
      bib :+ Query.Phrase(spec("title"), BoolPhraseSelective),
      minShouldMatch = Some(2)), K)
      .withColumn("qid", lit(2L))
    q1.unionByName(q2)
      .join(docMap(spark, dir), "doc_id")
      .select(col("qid"), col("rnk"), col("doi"), col("score_x6"))
      .orderBy("qid", "rnk")
  }

  /** Full ES bool (all four clause contexts in one query): must =
    * selective bibliographic match (docs 123/223/323 via three author
    * family tokens), should = title match (adds a leg score where it
    * matches), must_not = year 1993 (excludes doc 123 of the must cohort).
    * Expected: docs 223 and 323, ranked by must + should sum. */
  val BoolFullMust = "fam123 fam223 fam323"
  val BoolFullShould = "title 42"
  val BoolFullMustNotYear = "1993"

  def fieldBoolFull(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    FieldedIndex.query(spark, dir, Query.Bool(
      must = Seq(Query.Match(spec("bibliographic"), BoolFullMust)),
      should = Seq(Query.Match(spec("title"), BoolFullShould)),
      mustNot = Some(Query.Terms(spec("year"), Seq(BoolFullMustNotYear)))), K)
      .join(docMap(spark, dir), "doc_id")
      .select(col("rnk"), col("doi"), col("score_x6"))
      .orderBy("rnk")
  }

  /** ES terms aggregation on the year field: top-10 (term, df) — residues
    * 0..9 of i%30 appear 34×, the rest 33×, so the result is exactly years
    * 1990-1999 with the ES (doc_count desc, key asc) tie-break exercised
    * on 34/34 ties. */
  def fieldTermsAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    FieldedIndex.termsAgg(spark, dir, spec("year"), 10)
  }

  /** ES exists query over a present-everywhere field (volume, 1000 docs)
    * and an unpopulated mapping (abbreviated_journal — the reference maps
    * `short-container-title`, the fixture never emits it → 0 docs). */
  def fieldExists(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    val vol = FieldedIndex.existsQuery(spark, dir, spec("volume"))
      .withColumn("field", lit("volume"))
    val abbr = FieldedIndex.existsQuery(spark, dir, spec("abbreviated_journal"))
      .withColumn("field", lit("abbreviated_journal"))
    vol.unionByName(abbr)
      .join(docMap(spark, dir), "doc_id")
      .select(col("field"), col("doi")).orderBy("field", "doi")
  }

  /** ES fuzzy match: qid 1 = title "recrod 42" under AUTO (the typo'd
    * 6-char term gets 2 edits and expands to "record" — a transposition,
    * distance 1 under full Damerau; "42" at 2 chars gets 0 edits); qid 2 =
    * bibliographic "fam12" at fuzziness 1 with max_expansions 10 — dozens
    * of d=1 author tokens (fam1X, fam1Y2, fam21, …) tie on df=1, so the cap
    * exercises the deterministic (distance, df desc, term asc) selection
    * hard. */
  val FuzzyTitleQuery = "recrod 42"
  val FuzzyBibQuery = "fam12"
  val FuzzyBibMaxExp = 10

  def fieldFuzzy(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    val q1 = FieldedIndex.fuzzyMatch(spark, dir, spec("title"),
      Seq(1 -> FuzzyTitleQuery), K)
    val q2 = FieldedIndex.fuzzyMatch(spark, dir, spec("bibliographic"),
      Seq(2 -> FuzzyBibQuery), K, fuzziness = 1, maxExpansions = FuzzyBibMaxExp)
    q1.unionByName(q2)
      .join(docMap(spark, dir), "doc_id")
      .select(col("qid"), col("rnk"), col("doi"), col("score_x6"))
      .orderBy("qid", "rnk")
  }

  /** Filter-context + query-context bool: title match restricted to the
    * year-1997 cohort. */
  def fieldFiltered(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    FieldedIndex.query(spark, dir, Query.Bool(
      should = Seq(Query.Match(spec("title"), FilteredMatchText)),
      filter = Some(Query.Terms(spec("year"), Seq(FilteredYear)))), K)
      .join(docMap(spark, dir), "doc_id")
      .select(col("rnk"), col("doi"), col("score_x6"))
      .orderBy("rnk")
  }

  /** ES range query in a bool's filter context (the canonical client
    * shape, `{"bool":{"must":[{"match":...}],"filter":[{"range":
    * {"year":{"gte":...,"lte":...}}}]}}`): the bounds expand against the
    * year sub-index dictionary (numeric comparison) and ride the kernel's
    * filter walk. "record" masses everywhere; "93" is discriminative and
    * doc 93 (year 1993) sits inside the cohort. */
  val RangeMatchText = "record 93"
  val RangeGte = 1993L
  val RangeLte = 1995L

  def fieldRange(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    val terms = FieldedIndex.rangeTerms(spark, dir, spec("year"),
      gte = Some(RangeGte), lte = Some(RangeLte))
    FieldedIndex.query(spark, dir, Query.Bool(
      must = Seq(Query.Match(spec("title"), RangeMatchText)),
      filter = Some(Query.Terms(spec("year"), terms))), K)
      .join(docMap(spark, dir), "doc_id")
      .select(col("rnk"), col("doi"), col("score_x6"))
      .orderBy("rnk")
  }

  /** ES prefix + wildcard queries on the keyword DOI field (constant-score
    * multi-term rewrites off the sorted dictionary): a prefix matching 11
    * dois and a `?` single-char pattern matching 10. */
  val PrefixQuery = "10.1/ND.99" // analyzer lowercases; 99, 990..999
  val WildcardPattern = "10.1/nd.1?3" // 103, 113, ..., 193

  def fieldPrefix(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    val pre = FieldedIndex.prefixQuery(spark, dir, spec("DOI"), PrefixQuery)
      .withColumn("pattern", lit("prefix"))
    val wild = FieldedIndex.wildcardQuery(spark, dir, spec("DOI"),
      WildcardPattern).withColumn("pattern", lit("wildcard"))
    pre.unionByName(wild)
      .join(docMap(spark, dir), "doc_id")
      .select(col("pattern"), col("doi")).orderBy("pattern", "doi")
  }

  /** ES function_score: the tie-heavy match re-ranked by a gauss recency
    * decay on year (origin 2004, scale 5, decay 0.5) × a constant weight
    * × a sqrt field_value_factor — all three function kinds in one
    * multiply chain, multiply boost_mode (the classic recency boost). */
  val FScoreGaussOrigin = 2004.0
  val FScoreGaussScale = 5.0
  val FScoreGaussDecay = 0.5
  val FScoreWeight = 1.2
  val FScoreFactor = 0.05
  val FScoreK = 10

  def fieldFScore(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    import FieldedIndex.ScoreFunction._
    FieldedIndex.functionScore(spark, dir, spec("title"), SearchAfterText,
      Seq(
        Gauss(spec("year"), FScoreGaussOrigin, FScoreGaussScale,
          decay = FScoreGaussDecay),
        Weight(FScoreWeight),
        FieldValueFactor(spec("year"), FScoreFactor, "sqrt")),
      FScoreK)
      .join(docMap(spark, dir), "doc_id")
      .select(col("rnk"), col("doi"), col("score_x6"))
      .orderBy("rnk")
  }

  /** ES _explain: the BM25 decomposition of doc 7 under the tie-heavy
    * match — "record" (corpus-wide df) and "7" (df 1, tf 2) rows. */
  val ExplainKey = "10.1/nd.7"

  def fieldExplain(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    FieldedIndex.explainMatch(spark, dir, spec("title"), SearchAfterText,
      ExplainKey)
  }

  /** ES boosting query: the tie-heavy match with 1997-cohort docs demoted
    * ×0.4 — positive scores untouched otherwise (ES demote-don't-exclude). */
  val BoostingNegYear = "1997"
  val BoostingNb = 0.4

  def fieldBoosting(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    FieldedIndex.boostingQuery(spark, dir, spec("title"), SearchAfterText,
      spec("year"), BoostingNegYear, BoostingNb, K)
      .join(docMap(spark, dir), "doc_id")
      .select(col("rnk"), col("doi"), col("score_x6"))
      .orderBy("rnk")
  }

  /** ES range aggregation: three declared year buckets incl. open ends
    * and an empty bucket (ES emits declared ranges even at 0). */
  val RangeAggBuckets: Seq[(Option[Long], Option[Long])] = Seq(
    (None, Some(1995L)), (Some(1995L), Some(2005L)), (Some(2005L), None),
    (Some(3000L), None))

  def fieldAggRange(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    FieldedIndex.rangeAgg(spark, dir, spec("year"), RangeAggBuckets)
  }

  /** ES percentiles aggregation (exact form) over year. */
  def fieldAggPct(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    FieldedIndex.percentilesAgg(spark, dir, spec("year"))
  }

  /** percentile_ranks probes: below the year range (→ 0%), two interior
    * years, the max (→ 100%). */
  val PctRankProbes = Seq(1989L, 1995L, 2004L, 2019L)

  def fieldAggPctRanks(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    FieldedIndex.percentileRanksAgg(spark, dir, spec("year"), PctRankProbes)
  }

  /** ES regexp queries on the keyword DOI field: an alternation (no sound
    * literal prefix — full dictionary automaton walk, 3 dois) and a
    * bounded-repeat quantifier (literal-prefix-pruned, 99/999). */
  val RegexpAlt = "10.1/nd.(7|77|777)"
  val RegexpQuant = "10.1/nd.9{2,3}"

  def fieldRegexp(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    val alt = FieldedIndex.regexpQuery(spark, dir, spec("DOI"), RegexpAlt)
      .withColumn("pattern", lit("alt"))
    val qnt = FieldedIndex.regexpQuery(spark, dir, spec("DOI"), RegexpQuant)
      .withColumn("pattern", lit("quant"))
    alt.unionByName(qnt)
      .join(docMap(spark, dir), "doc_id")
      .select(col("pattern"), col("doi")).orderBy("pattern", "doi")
  }

  /** match_phrase_prefix over the title field: qid 1 = single-expansion
    * ("titl" → title: degenerates to the exact phrase, pinning that the
    * union slot reproduces exact semantics), qid 2 = the 50-cap exercised
    * hard ("4" expands to 111 dictionary terms, term order keeps the first
    * 50 — the score's idf sum proves the exact expansion set), qid 3 =
    * single-token phrase (no fixed slots; pf = union tf). */
  val PhrasePrefixQueries: Seq[(Int, String)] = Seq(
    1 -> "second titl",
    2 -> "title 4",
    3 -> "titl")
  val PhrasePrefixMaxExp = 50

  def fieldPhrasePrefix(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    FieldedIndex.matchPhrasePrefix(spark, dir, spec("title"),
      PhrasePrefixQueries, K, PhrasePrefixMaxExp)
      .join(docMap(spark, dir), "doc_id")
      .select(col("qid"), col("rnk"), col("doi"), col("score_x6"))
      .orderBy("qid", "rnk")
  }

  /** ES histogram aggregation on year, interval 7 (a non-divisor of the
    * 30-year span, so bucket edges cut mid-cohort). */
  val HistInterval = 7L

  def fieldAggHist(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    FieldedIndex.histogramAgg(spark, dir, spec("year"), HistInterval)
  }

  /** ES stats aggregation on year (value_count/min/max/sum + micro-rounded
    * avg — the double stays engine-internal). */
  def fieldAggStats(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    FieldedIndex.statsAgg(spark, dir, spec("year"))
      .select(col("value_count"), col("min_value"), col("max_value"),
        col("sum_value"),
        round(col("avg_value") * 1e6).cast("long").as("avg_x6"))
  }

  /** ES terms agg + cardinality sub-agg: top-10 years by doc count,
    * distinct volumes within each year bucket. */
  def fieldAggCard(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    FieldedIndex.termsCardinalityAgg(spark, dir, spec("year"),
      spec("volume"), 10)
  }

  /** ES terms + stats sub-agg: year buckets, numeric stats over volume. */
  def fieldTermsStats(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    FieldedIndex.termsStatsAgg(spark, dir, spec("year"), spec("volume"), 10)
  }

  /** ES missing agg over a populated field (volume — 0 missing) and the
    * never-populated abbreviated_journal mapping (all 1000 missing). */
  def fieldMissing(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    FieldedIndex.missingAgg(spark, dir, spec("volume"))
      .withColumn("field", lit("volume"))
      .unionByName(FieldedIndex.missingAgg(spark, dir,
        spec("abbreviated_journal")).withColumn("field", lit("abbreviated_journal")))
      .select(col("field"), col("doc_count")).orderBy("field")
  }

  /** ES filter agg: volume stats over the year-1997 cohort only. */
  def fieldFilterAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    FieldedIndex.filterStatsAgg(spark, dir, spec("year"), Seq("1997"),
      spec("volume"))
  }

  /** ES composite agg page: (year, volume) tuple buckets in key order,
    * resumed past the ("1992", "30") cursor (string-lexicographic — the
    * keyword source order, so "4" > "30"). */
  val CompositeAfter = Seq("1992", "30")

  def fieldComposite(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    FieldedIndex.compositeAgg(spark, dir,
      Seq(spec("year"), spec("volume")), 10, Some(CompositeAfter))
  }

  /** ES from/size pagination: absolute ranks (3, 7] of the title queries
    * (the deep tie-broken tails make off-by-one slicing visible). */
  val PageFrom = 3
  val PageSize = 4

  def fieldPage(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    FieldedIndex.searchFieldPaged(spark, dir, spec("title"), TitleQueries,
      PageFrom, PageSize)
      .join(docMap(spark, dir), "doc_id")
      .select(col("qid"), col("rnk"), col("doi"), col("score_x6"))
      .orderBy("qid", "rnk")
  }

  /** ES terms + top_hits sub-agg: best 2 title matches per year bucket
    * ("record 7" masses everywhere, doc 7 discriminates inside its
    * 1997 bucket). */
  val TopHitsText = "record 7"
  val TopHitsSize = 2

  def fieldTopHits(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    FieldedIndex.topHitsAgg(spark, dir, spec("year"), spec("title"),
      TopHitsText, TopHitsSize)
      .join(docMap(spark, dir), "doc_id")
      .select(col("term"), col("rnk"), col("doi"), col("score_x6"))
      .orderBy("term", "rnk")
  }

  /** ES _count + sort-by-field: hit counts for a mass and a discriminative
    * match, and the volume-23 cohort sorted by year desc. */
  val CountTexts = Seq("record title", "42 999")
  val SortFilterVol = "23"
  val SortK = 10

  def fieldCountSort(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    val counts = CountTexts.zipWithIndex.map { case (t, i) =>
      FieldedIndex.countQuery(spark, dir, spec("title"), t)
        .select(lit(i.toLong).as("rnk"), lit(s"count:$t").as("key"),
          col("hits").as("value"))
    }.reduce(_.unionByName(_))
    val sorted = FieldedIndex.sortByField(spark, dir,
      spec("volume"), Seq(SortFilterVol), spec("year"),
      descending = true, SortK)
      .join(docMap(spark, dir), "doc_id")
      .select((col("rnk") + 100L).as("rnk"),
        concat(lit("sort:"), col("doi")).as("key"),
        col("sort_value").as("value"))
    counts.unionByName(sorted).orderBy("rnk")
  }

  /** ES simple_query_string over title: one of each flag — `+` required
    * term, bare optional term, quoted phrase, `-` excluded term. Doc 42
    * leads (the "42" boost), doc 999 is excluded outright despite matching
    * everything else. */
  val QStringQuery = "+record 42 \"second title\" -999"

  def fieldQString(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    FieldedIndex.simpleQueryString(spark, dir, spec("title"), QStringQuery, K)
      .join(docMap(spark, dir), "doc_id")
      .select(col("rnk"), col("doi"), col("score_x6"))
      .orderBy("rnk")
  }

  /** ES significant_terms: volumes over-represented in the year-1993
    * cohort vs the whole corpus (JLH score). The cohort's 5 cycling
    * volumes each hold ~7 of the year's 34 docs (fgPct ≈ 0.2) against a
    * 2% background — strongly significant, deterministic ordering. */
  val SigTermsYear = "1993"

  def fieldSigTerms(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    val fg = FieldedIndex.termQuery(spark, dir, spec("year"), Seq(SigTermsYear))
    FieldedIndex.significantTermsAgg(spark, dir, spec("volume"), fg, 10)
  }

  /** ES term suggester: two typos correct (recrod→record d=1 transposition
    * under AUTO=2; titel→title d=1 under AUTO=1), a present term yields
    * nothing (suggest_mode=missing). */
  val SuggestText = "recrod titel title"
  val SuggestSize = 3

  def fieldSuggest(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    FieldedIndex.termSuggest(spark, dir, spec("title"), SuggestText,
      SuggestSize)
  }

  /** ES field collapsing: title match "record 7" collapsed on volume —
    * one hit per volume value, doc 7 (vol 7) leads on its "7" boost, the
    * other leaders are each volume's lowest doc_id of the mass tie. */
  val CollapseText = "record 7"

  def fieldCollapse(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    FieldedIndex.collapseSearch(spark, dir, spec("title"), CollapseText,
      spec("volume"), K)
      .join(docMap(spark, dir), "doc_id")
      .select(col("rnk"), col("doi"), col("collapse_value"), col("score_x6"))
      .orderBy("rnk")
  }

  /** ES highlighting (plain-highlighter fragments): matched tokens wrapped
    * in <em> within each stored title value; only matching values emit. */
  val HighlightQueries: Seq[(Int, String)] = Seq(
    1 -> "record 42",
    2 -> "second 999")
  val HighlightK = 3

  def fieldHighlight(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    FieldedIndex.highlight(spark, dir, spec("title"), HighlightQueries,
      HighlightK)
      .join(docMap(spark, dir), "doc_id")
      .select(col("qid"), col("rnk"), col("doi"), col("fragment"))
      .orderBy("qid", "rnk", "fragment")
  }

  /** ES rescore: a mass-tie base match ("record second" scores every doc
    * identically) re-ranked inside a 20-doc window by a phrase rescore
    * query that hits exactly one windowed doc — the boosted doc must jump
    * the tie to rnk 1, proving the window + combine actually reorder. */
  val RescoreBase = "record second"
  val RescorePhrase = "title 1"
  val RescoreWindow = 20
  val RescoreQw = 1.0
  val RescoreRw = 2.0

  def fieldRescore(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    FieldedIndex.rescorePhrase(spark, dir, spec("title"), RescoreBase,
      RescorePhrase, K, RescoreWindow, RescoreQw, RescoreRw)
      .join(docMap(spark, dir), "doc_id")
      .select(col("rnk"), col("doi"), col("score_x6"))
      .orderBy("rnk")
  }

  /** ES search_after: page 1 = top-3 of a tie-heavy title match; page 2
    * resumes from page 1's LAST sort key through the cursor path and must
    * reproduce absolute ranks 4..6 exactly. The Spark side derives the
    * cursor from its own page-1 result (a real client round-trip); the
    * oracle replays both pages from the absolute ranking. */
  val SearchAfterText = "record 7"
  val SearchAfterPage = 3

  def fieldSearchAfter(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = ensureFieldedIndex(spark)
    val p1 = FieldedIndex.searchField(spark, dir, spec("title"),
      Seq(1 -> SearchAfterText), SearchAfterPage)
      .orderBy("rnk").collect()
    val last = p1.last
    val p2 = FieldedIndex.searchAfter(spark, dir, spec("title"),
      SearchAfterText, SearchAfterPage,
      last.getAs[Long]("score_x6"), last.getAs[Long]("doc_id"))
    val p1df = FieldedIndex.searchFieldPaged(spark, dir, spec("title"),
      Seq(1 -> SearchAfterText), 0, SearchAfterPage)
      .select(lit(1L).as("page"), col("rnk"), col("doc_id"), col("score_x6"))
    p1df.unionByName(
        p2.select(lit(2L).as("page"), col("rnk"), col("doc_id"),
          col("score_x6")))
      .join(docMap(spark, dir), "doc_id")
      .select(col("page"), col("rnk"), col("doi"), col("score_x6"))
      .orderBy("page", "rnk")
  }

  /** ES scroll: 3 pinned-snapshot pages of the same tie-heavy match —
    * each page a real cursor round-trip through [[FieldedIndex.Scroll]],
    * which must walk the absolute ranking page by page (the oracle
    * replays the full ordering sliced into pages). */
  val ScrollPages = 3

  def fieldScroll(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = ensureFieldedIndex(spark)
    val sc = FieldedIndex.scroll(spark, dir, spec("title"),
      SearchAfterText, SearchAfterPage)
    // close() always: the match outlives 3 pages, so without it every run
    // leaks the scroll's PRIVATE pinned handle (a persisted shard RDD)
    val rows =
      try (1 to ScrollPages).flatMap { p =>
        sc.next().map { case (rnk, doc, s6) => (p.toLong, rnk, doc, s6) }
      }
      finally sc.close()
    rows.toDF("page", "rnk", "doc_id", "score_x6")
      .join(docMap(spark, dir), "doc_id")
      .select(col("page"), col("rnk"), col("doi"), col("score_x6"))
      .orderBy("page", "rnk")
  }

  // ---- DuckDB sides -------------------------------------------------------

  /** read_json over the fixture with the needed columns pinned. */
  private def fixtureSrc(extraCols: String = ""): String =
    s"""SELECT * FROM read_json('${Oracle.fixturesDir}/ndjson_plain.ndjson',
       |  format='newline_delimited', columns={'DOI':'VARCHAR','title':'VARCHAR[]'$extraCols})""".stripMargin

  private val dateCols: String =
    """,
      |    'issued':'STRUCT("date-parts" BIGINT[][])',
      |    'published-online':'STRUCT("date-parts" BIGINT[][])',
      |    'published-print':'STRUCT("date-parts" BIGINT[][])',
      |    'created':'STRUCT("date-parts" BIGINT[][], "date-time" TIMESTAMP, timestamp BIGINT)'""".stripMargin

  /** Keyword chain on the query side = lower(); embedded pre-analyzed. */
  def fieldDoiSql: String = {
    val terms = DoiQueries.map(q => s"'${Analyzer.analyzeKeyword(q)}'")
    s"""WITH src AS (${fixtureSrc()})
       |SELECT DOI AS doi FROM src WHERE lower(DOI) IN (${terms.mkString(", ")})
       |ORDER BY doi""".stripMargin
  }

  /** The indexed year token is CAST(pubYear AS VARCHAR) under the folding
    * keyword chain (digits: fold = identity, lower = identity). */
  def fieldYearSql: String = {
    val t = Analyzer.analyzeKeywordFold(YearQuery)
    s"""WITH src AS (SELECT DOI AS doi,
       |  CAST((${Oracle.yearCase("")}) AS VARCHAR) AS y
       |FROM (${fixtureSrc(dateCols)}))
       |SELECT doi FROM src WHERE y = '$t' ORDER BY doi""".stripMargin
  }

  /** Multi-field bool/should replay: three legs (bibliographic text_stop,
    * year + volume folding keyword), each scored with ITS field's stats,
    * summed per doc. Every leg's per-term double mirrors the engine's
    * Bm25.idf/tfNorm parenthesization via [[Oracle.bm25Expr]]; micro-unit
    * rounding of the summed score absorbs FP-order noise; ranks tie-break
    * on doi (== internal doc_id order by construction). Sub-corpus rule
    * per leg: docs with ≥1 non-empty value (every fixture doc qualifies
    * for all three legs, so the simple tok-derived dl/stats CTEs equal the
    * engine's). */
  def fieldMultiSql: String = multiSql(MultiLegs, 1)

  /** minimum_should_match replay: the selective [[MsmLegs]], HAVING over
    * the leg count (each leg CTE emits ≤1 row per doi, so count(*) ==
    * matched legs). */
  def fieldMsmSql: String = multiSql(MsmLegs, 2)

  /** Boosted bool/should replay: each leg's per-term double is
    * (idf · boost) · tfNorm — [[Oracle.bm25BoostExpr]] mirrors the
    * engine's pre-multiplied-idf parenthesization exactly. */
  def fieldBoostSql: String = multiSql(MultiLegs, 1, boosts = MultiBoosts)

  /** dis_max replay: same legs, combined max(leg) + tb·(Σ − max) — the
    * parenthesization mirrors the engine's fold exactly. */
  def fieldDisMaxSql: String = multiSql(MultiLegs, 1,
    s"max(c) + $DisMaxTieBreaker * (sum(c) - max(c))")

  val DisMaxTieBreaker = 0.3

  private def multiSql(legsIn: Seq[(String, String)], minLegs: Int,
                       scoreExpr: String = "sum(c)",
                       boosts: Seq[Double] = Seq(1.0, 1.0, 1.0)): String = {
    val stopIn = Analyzer.EnglishStopSorted.map(s => s"'$s'").mkString(", ")
    def weights(chain: String, text: String): Seq[(String, Int)] = {
      import scala.jdk.CollectionConverters._
      val (_, counts) = Analyzer.chainCounts(chain, Iterator(text))
      counts.entrySet().asScala.map(e => e.getKey -> e.getValue.intValue()).toSeq
    }
    def qvals(ws: Seq[(String, Int)]): String =
      ws.map { case (t, w) => s"('$t', $w)" }.mkString(", ")
    // per-leg CTE block: tok table named `<p>_tok` must exist upstream
    def leg(p: String, boost: Double = 1.0): String =
      s"""${p}_tf AS (SELECT doi, term, count(*)::BIGINT AS tf FROM ${p}_tok GROUP BY 1, 2),
         |${p}_dft AS (SELECT term, count(*)::BIGINT AS df FROM ${p}_tf GROUP BY term),
         |${p}_dl AS (SELECT doi, count(*)::BIGINT AS dl FROM ${p}_tok GROUP BY doi),
         |${p}_stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM ${p}_dl),
         |${p}_leg AS (
         |  SELECT tf.doi, sum(q.w * ${Oracle.bm25BoostExpr(boost)}) AS c
         |  FROM ${p}_q q
         |  JOIN ${p}_tf tf ON tf.term = q.term
         |  JOIN ${p}_dft dft ON dft.term = q.term
         |  JOIN ${p}_dl dl ON dl.doi = tf.doi
         |  CROSS JOIN ${p}_stats s
         |  GROUP BY tf.doi)""".stripMargin
    val bibW = weights(Analyzer.TextStop, legsIn(0)._2)
    val yW = weights(Analyzer.KeywordFold, legsIn(1)._2)
    val vW = weights(Analyzer.KeywordFold, legsIn(2)._2)
    s"""WITH src AS (
       |  SELECT * FROM read_json('${Oracle.fixturesDir}/ndjson_plain.ndjson',
       |    format='newline_delimited', columns={'DOI':'VARCHAR','title':'VARCHAR[]',
       |    'author':'STRUCT(given VARCHAR, family VARCHAR, sequence VARCHAR)[]',
       |    'container-title':'VARCHAR[]','short-container-title':'VARCHAR[]',
       |    'volume':'VARCHAR','issue':'VARCHAR','page':'VARCHAR'$dateCols})),
       |base AS (SELECT DOI AS doi,
       |  ${Oracle.bibliographicExpr} AS bib,
       |  CAST((${Oracle.yearCase("")}) AS VARCHAR) AS y,
       |  coalesce(volume, '') AS vol
       |FROM src),
       |b_tok AS (SELECT doi, t AS term FROM
       |            (SELECT doi, unnest(string_split(lower(bib), ' ')) AS t FROM base)
       |          WHERE t <> '' AND t NOT IN ($stopIn)),
       |b_q(term, w) AS (VALUES ${qvals(bibW)}),
       |${leg("b", boosts(0))},
       |y_tok AS (SELECT doi, y AS term FROM base WHERE y <> ''),
       |y_q(term, w) AS (VALUES ${qvals(yW)}),
       |${leg("y", boosts(1))},
       |v_tok AS (SELECT doi, vol AS term FROM base WHERE vol <> ''),
       |v_q(term, w) AS (VALUES ${qvals(vW)}),
       |${leg("v", boosts(2))},
       |allc AS (SELECT doi, c FROM b_leg UNION ALL
       |         SELECT doi, c FROM y_leg UNION ALL
       |         SELECT doi, c FROM v_leg),
       |scored AS (SELECT doi, $scoreExpr AS score FROM allc GROUP BY doi${
      if (minLegs > 1) s" HAVING count(*) >= $minLegs" else ""}),
       |ranked AS (SELECT doi,
       |    CAST(round(score * 1000000.0) AS BIGINT) AS score_x6,
       |    row_number() OVER (ORDER BY CAST(round(score * 1000000.0) AS BIGINT) DESC,
       |                       doi ASC) AS rnk
       |  FROM scored)
       |SELECT rnk, doi, score_x6 FROM ranked WHERE rnk <= $K ORDER BY rnk""".stripMargin
  }

  /** Filtered-match replay: the title leg scored with the FULL title-field
    * stats (ES filter context does not alter query-context statistics),
    * semi-joined to the year cohort BEFORE ranking. */
  def fieldFilteredSql: String = {
    val stopIn = Analyzer.EnglishStopSorted.map(s => s"'$s'").mkString(", ")
    val qvals = Analyzer.analyzeStop(FilteredMatchText)
      .groupBy(identity).view.mapValues(_.length)
      .map { case (t, w) => s"('$t', $w)" }.mkString(", ")
    val yt = Analyzer.analyzeKeywordFold(FilteredYear)
    s"""WITH src0 AS (SELECT DOI AS doi, title,
       |    CAST((${Oracle.yearCase("")}) AS VARCHAR) AS y
       |  FROM (${fixtureSrc(dateCols)})),
       |src AS (SELECT doi, title FROM src0
       |        WHERE len(list_filter(title, t -> t IS NOT NULL AND t <> '')) > 0),
       |el AS (SELECT doi, unnest(title) AS el FROM src),
       |tok AS (SELECT doi, t AS term FROM
       |          (SELECT doi, unnest(string_split(lower(el), ' ')) AS t FROM el)
       |        WHERE t <> '' AND t NOT IN ($stopIn)),
       |tf AS (SELECT doi, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
       |dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
       |dl AS (SELECT s.doi, count(t.term)::BIGINT AS dl
       |       FROM src s LEFT JOIN tok t USING (doi) GROUP BY s.doi),
       |stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
       |q(term, w) AS (VALUES $qvals),
       |scored AS (
       |  SELECT tf.doi, sum(q.w * ${Oracle.bm25Expr}) AS score
       |  FROM q
       |  JOIN tf ON tf.term = q.term
       |  JOIN dft ON dft.term = q.term
       |  JOIN dl ON dl.doi = tf.doi
       |  CROSS JOIN stats s
       |  GROUP BY tf.doi),
       |allowed AS (SELECT doi FROM src0 WHERE y = '$yt'),
       |ranked AS (
       |  SELECT s.doi, CAST(round(s.score * 1000000.0) AS BIGINT) AS score_x6,
       |    row_number() OVER (ORDER BY CAST(round(s.score * 1000000.0) AS BIGINT) DESC,
       |                       s.doi ASC) AS rnk
       |  FROM scored s JOIN allowed USING (doi))
       |SELECT rnk, doi, score_x6 FROM ranked WHERE rnk <= $K ORDER BY rnk""".stripMargin
  }

  /** match_phrase replay: token positions reconstructed exactly as the
    * engine assigns them — per value, position = value offset + tokenizer
    * index (stopwords would keep their slot; the fixture has none in
    * titles), and value v+1 starts at (tokens of v) + gap(100) past v's
    * offset. Adjacency is a positional self-join per query; pf = alignment
    * count; score = (Σ idf over phrase occurrences) · tfNorm(pf, dl,
    * avgdl) — the Lucene PhraseScorer shape the engine implements. */
  def fieldPhraseSql: String = {
    val stopIn = Analyzer.EnglishStopSorted.map(s => s"'$s'").mkString(", ")
    val gap = Analyzer.PositionIncrementGap
    val blocks = PhraseQueries.map { case (qid, q) =>
      val occs = Analyzer.analyzeChainPos(Analyzer.TextStop, q)
      require(occs.nonEmpty, s"phrase $qid analyzed to nothing")
      val base = occs(0)._2
      val joins = occs.zipWithIndex.drop(1).map { case ((t, p), j) =>
        s"  JOIN tok t$j ON t$j.doi = t0.doi AND t$j.pos = t0.pos + ${p - base} AND t$j.term = '$t'"
      }.mkString("\n")
      val qterms = occs.map { case (t, _) => s"('$t')" }.mkString(", ")
      s"""q${qid}_t(term) AS (VALUES $qterms),
         |q${qid}_sidf AS (
         |  SELECT sum(ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))) AS sidf
         |  FROM q${qid}_t q JOIN dft ON dft.term = q.term CROSS JOIN stats s),
         |q${qid}_occ AS (SELECT t0.doi, t0.pos FROM tok t0
         |$joins
         |  WHERE t0.term = '${occs(0)._1}'),
         |q${qid}_pf AS (SELECT doi, count(*)::BIGINT AS pf FROM q${qid}_occ GROUP BY doi),
         |q${qid}_scored AS (SELECT $qid AS qid, pf.doi,
         |    si.sidf * (pf.pf / (pf.pf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl))) AS score
         |  FROM q${qid}_pf pf
         |  JOIN dl ON dl.doi = pf.doi
         |  CROSS JOIN stats s CROSS JOIN q${qid}_sidf si)""".stripMargin
    }
    val unionScored = PhraseQueries.map { case (qid, _) =>
      s"SELECT qid, doi, score FROM q${qid}_scored" }.mkString(" UNION ALL ")
    s"""WITH src0 AS (SELECT DOI AS doi, title FROM (${fixtureSrc()})),
       |src AS (SELECT doi, title FROM src0
       |        WHERE len(list_filter(title, t -> t IS NOT NULL AND t <> '')) > 0),
       |vals AS (SELECT doi, v, string_split(lower(el), ' ') AS toks FROM
       |          (SELECT doi, unnest(title) AS el,
       |                  unnest(range(len(title))) AS v FROM src) u),
       |offs AS (SELECT doi, v, toks,
       |    coalesce(sum(len(toks) + $gap) OVER (PARTITION BY doi ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
       |  FROM vals),
       |tok0 AS (SELECT doi, off + unnest(range(len(toks))) AS pos,
       |                unnest(toks) AS term FROM offs),
       |tok AS (SELECT doi, pos, term FROM tok0
       |        WHERE term <> '' AND term NOT IN ($stopIn)),
       |dl AS (SELECT s.doi, count(t.term)::BIGINT AS dl
       |       FROM src s LEFT JOIN tok t USING (doi) GROUP BY s.doi),
       |stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
       |dft AS (SELECT term, count(DISTINCT doi)::BIGINT AS df FROM tok GROUP BY term),
       |${blocks.mkString(",\n")},
       |scored AS ($unionScored),
       |ranked AS (
       |  SELECT qid, doi, CAST(round(score * 1000000.0) AS BIGINT) AS score_x6,
       |         row_number() OVER (PARTITION BY qid
       |           ORDER BY CAST(round(score * 1000000.0) AS BIGINT) DESC, doi ASC) AS rnk
       |  FROM scored)
       |SELECT CAST(qid AS BIGINT) AS qid, rnk, doi, score_x6
       |FROM ranked WHERE rnk <= $K ORDER BY qid, rnk""".stripMargin
  }

  /** span_near replay: positions from the phrase oracle's tok CTE; the
    * greedy minimal ordered completion unrolls as chained correlated
    * min-subqueries (p_j = first clause-j position past p_{j−1});
    * slopUsed = span length − clause count; per-match weight
    * round(1e6/(1+slopUsed)) summed as a BIGINT before the single /1e6 —
    * the engine's order-independent quantized sloppyFreq, bit-identical
    * here. idf sums over clause rows (duplicates included). */
  def fieldSpanNearSql: String = {
    val stopIn = Analyzer.EnglishStopSorted.map(s => s"'$s'").mkString(", ")
    val gap = Analyzer.PositionIncrementGap
    val blocks = SpanNearQueries.map { case (qid, q, slop) =>
      val ts = Analyzer.analyzeStop(q)
      require(ts.nonEmpty, s"span_near $qid analyzed to nothing")
      val n = ts.length
      val qterms = ts.map(t => s"('$t')").mkString(", ")
      val steps = (1 until n).map { j =>
        val guard = if (j == 1) "" else s" WHERE s.p${j - 1} IS NOT NULL"
        val prevs = (0 until j).map(i => s"s.p$i").mkString(", ")
        s"""q${qid}_s$j AS (SELECT s.doi, $prevs,
           |    (SELECT min(t.pos) FROM tok t WHERE t.doi = s.doi
           |       AND t.term = '${ts(j)}' AND t.pos > s.p${j - 1}) AS p$j
           |  FROM q${qid}_s${j - 1} s$guard)""".stripMargin
      }
      val last = s"p${n - 1}"
      val slExpr = s"($last - p0 + 1) - $n"
      (s"""q${qid}_t(term) AS (VALUES $qterms),
          |q${qid}_sidf AS (
          |  SELECT sum(ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))) AS sidf
          |  FROM q${qid}_t q JOIN dft ON dft.term = q.term CROSS JOIN stats s),
          |q${qid}_s0 AS (SELECT doi, pos AS p0 FROM tok WHERE term = '${ts(0)}')""" +
        (if (steps.isEmpty) "" else ",\n" + steps.mkString(",\n")) + s""",
          |q${qid}_m AS (SELECT doi, $slExpr AS sl FROM q${qid}_s${n - 1}
          |  WHERE $last IS NOT NULL AND $slExpr <= $slop),
          |q${qid}_pf AS (SELECT doi,
          |    sum(CAST(round(1000000.0 / (1 + sl)) AS BIGINT)) AS fx6
          |  FROM q${qid}_m GROUP BY doi),
          |q${qid}_scored AS (SELECT $qid AS qid, pf.doi,
          |    si.sidf * ((pf.fx6 / 1000000.0) /
          |      ((pf.fx6 / 1000000.0) + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl))) AS score
          |  FROM q${qid}_pf pf
          |  JOIN dl ON dl.doi = pf.doi
          |  CROSS JOIN stats s CROSS JOIN q${qid}_sidf si)""").stripMargin
    }
    val unionScored = SpanNearQueries.map { case (qid, _, _) =>
      s"SELECT qid, doi, score FROM q${qid}_scored" }.mkString(" UNION ALL ")
    s"""WITH src0 AS (SELECT DOI AS doi, title FROM (${fixtureSrc()})),
       |src AS (SELECT doi, title FROM src0
       |        WHERE len(list_filter(title, t -> t IS NOT NULL AND t <> '')) > 0),
       |vals AS (SELECT doi, v, string_split(lower(el), ' ') AS toks FROM
       |          (SELECT doi, unnest(title) AS el,
       |                  unnest(range(len(title))) AS v FROM src) u),
       |offs AS (SELECT doi, v, toks,
       |    coalesce(sum(len(toks) + $gap) OVER (PARTITION BY doi ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
       |  FROM vals),
       |tok0 AS (SELECT doi, off + unnest(range(len(toks))) AS pos,
       |                unnest(toks) AS term FROM offs),
       |tok AS (SELECT doi, pos, term FROM tok0
       |        WHERE term <> '' AND term NOT IN ($stopIn)),
       |dl AS (SELECT s.doi, count(t.term)::BIGINT AS dl
       |       FROM src s LEFT JOIN tok t USING (doi) GROUP BY s.doi),
       |stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
       |dft AS (SELECT term, count(DISTINCT doi)::BIGINT AS df FROM tok GROUP BY term),
       |${blocks.mkString(",\n")},
       |scored AS ($unionScored),
       |ranked AS (
       |  SELECT qid, doi, CAST(round(score * 1000000.0) AS BIGINT) AS score_x6,
       |         row_number() OVER (PARTITION BY qid
       |           ORDER BY CAST(round(score * 1000000.0) AS BIGINT) DESC, doi ASC) AS rnk
       |  FROM scored)
       |SELECT CAST(qid AS BIGINT) AS qid, rnk, doi, score_x6
       |FROM ranked WHERE rnk <= $K ORDER BY qid, rnk""".stripMargin
  }

  /** Unordered span_near replay: every clause occurrence anchors a window
    * whose other members are each clause's first position ≥ the anchor
    * (correlated min-subqueries); slopUsed = window − n clamped at 0; the
    * same quantized-weight BIGINT accumulation as the ordered oracle. */
  def fieldSpanUnorderedSql: String = {
    val stopIn = Analyzer.EnglishStopSorted.map(s => s"'$s'").mkString(", ")
    val gap = Analyzer.PositionIncrementGap
    val blocks = SpanNearUnorderedQueries.map { case (qid, q, slop) =>
      val ts = Analyzer.analyzeStop(q)
      require(ts.nonEmpty, s"span_near_unordered $qid analyzed to nothing")
      val n = ts.length
      val qterms = ts.map(t => s"('$t')").mkString(", ")
      val anchorBlocks = ts.indices.map { c =>
        val others = ts.indices.filter(_ != c)
        val mCols = others.zipWithIndex.map { case (j, mi) =>
          // same-term clauses need a DISTINCT occurrence (strictly past
          // the anchor) — the engine's rule, mirrored
          val cmp = if (ts(j) == ts(c)) ">" else ">="
          s"""    (SELECT min(t.pos) FROM tok t WHERE t.doi = a.doi
             |       AND t.term = '${ts(j)}' AND t.pos $cmp a.p) AS m$mi""".stripMargin
        }.mkString(",\n")
        val notNull = others.indices.map(mi => s"m$mi IS NOT NULL")
          .mkString(" AND ")
        val hiArgs = ("p" +: others.indices.map(mi => s"m$mi")).mkString(", ")
        val guard = if (others.isEmpty) "" else s"\n  WHERE $notNull"
        val uBody =
          if (others.isEmpty)
            s"SELECT doi, p FROM (SELECT doi, pos AS p FROM tok WHERE term = '${ts(c)}') a"
          else
            s"""SELECT a.doi, a.p,
               |$mCols
               |  FROM (SELECT doi, pos AS p FROM tok WHERE term = '${ts(c)}') a""".stripMargin
        s"""q${qid}_u$c AS ($uBody),
           |q${qid}_m$c AS (SELECT doi,
           |    greatest(0, greatest($hiArgs) - p + 1 - $n) AS sl
           |  FROM q${qid}_u$c$guard)""".stripMargin
      }
      val unionM = ts.indices.map(c => s"SELECT doi, sl FROM q${qid}_m$c")
        .mkString(" UNION ALL ")
      s"""q${qid}_t(term) AS (VALUES $qterms),
         |q${qid}_sidf AS (
         |  SELECT sum(ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))) AS sidf
         |  FROM q${qid}_t q JOIN dft ON dft.term = q.term CROSS JOIN stats s),
         |${anchorBlocks.mkString(",\n")},
         |q${qid}_all AS (SELECT doi, sl FROM ($unionM) WHERE sl <= $slop),
         |q${qid}_pf AS (SELECT doi,
         |    sum(CAST(round(1000000.0 / (1 + sl)) AS BIGINT)) AS fx6
         |  FROM q${qid}_all GROUP BY doi),
         |q${qid}_scored AS (SELECT $qid AS qid, pf.doi,
         |    si.sidf * ((pf.fx6 / 1000000.0) /
         |      ((pf.fx6 / 1000000.0) + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl))) AS score
         |  FROM q${qid}_pf pf
         |  JOIN dl ON dl.doi = pf.doi
         |  CROSS JOIN stats s CROSS JOIN q${qid}_sidf si)""".stripMargin
    }
    val unionScored = SpanNearUnorderedQueries.map { case (qid, _, _) =>
      s"SELECT qid, doi, score FROM q${qid}_scored" }.mkString(" UNION ALL ")
    s"""WITH src0 AS (SELECT DOI AS doi, title FROM (${fixtureSrc()})),
       |src AS (SELECT doi, title FROM src0
       |        WHERE len(list_filter(title, t -> t IS NOT NULL AND t <> '')) > 0),
       |vals AS (SELECT doi, v, string_split(lower(el), ' ') AS toks FROM
       |          (SELECT doi, unnest(title) AS el,
       |                  unnest(range(len(title))) AS v FROM src) u),
       |offs AS (SELECT doi, v, toks,
       |    coalesce(sum(len(toks) + $gap) OVER (PARTITION BY doi ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
       |  FROM vals),
       |tok0 AS (SELECT doi, off + unnest(range(len(toks))) AS pos,
       |                unnest(toks) AS term FROM offs),
       |tok AS (SELECT doi, pos, term FROM tok0
       |        WHERE term <> '' AND term NOT IN ($stopIn)),
       |dl AS (SELECT s.doi, count(t.term)::BIGINT AS dl
       |       FROM src s LEFT JOIN tok t USING (doi) GROUP BY s.doi),
       |stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
       |dft AS (SELECT term, count(DISTINCT doi)::BIGINT AS df FROM tok GROUP BY term),
       |${blocks.mkString(",\n")},
       |scored AS ($unionScored),
       |ranked AS (
       |  SELECT qid, doi, CAST(round(score * 1000000.0) AS BIGINT) AS score_x6,
       |         row_number() OVER (PARTITION BY qid
       |           ORDER BY CAST(round(score * 1000000.0) AS BIGINT) DESC, doi ASC) AS rnk
       |  FROM scored)
       |SELECT CAST(qid AS BIGINT) AS qid, rnk, doi, score_x6
       |FROM ranked WHERE rnk <= $K ORDER BY qid, rnk""".stripMargin
  }

  /** match_bool_prefix replay: BM25 sum over the full terms FULL-OUTER
    * unioned with the prefix cohort's constant 1.0 — expansions capped in
    * term order (the engine's Lucene collection order) BEFORE resolving
    * docs, zero-filled sums on both union sides. */
  def fieldBoolPrefixSql: String = {
    val stopIn = Analyzer.EnglishStopSorted.map(s => s"'$s'").mkString(", ")
    val toks = Analyzer.analyzeStop(BoolPrefixText)
    val full = toks.dropRight(1)
    val prefix = toks.last
    val qvals = full.groupBy(identity).view.mapValues(_.length)
      .toSeq.sortBy(_._1)
      .map { case (t, w) => s"('$t', $w)" }.mkString(", ")
    s"""WITH src0 AS (SELECT DOI AS doi, title FROM (${fixtureSrc()})),
       |src AS (SELECT doi, title FROM src0
       |        WHERE len(list_filter(title, t -> t IS NOT NULL AND t <> '')) > 0),
       |el AS (SELECT doi, unnest(title) AS el FROM src),
       |tok AS (SELECT doi, t AS term FROM
       |          (SELECT doi, unnest(string_split(lower(el), ' ')) AS t FROM el)
       |        WHERE t <> '' AND t NOT IN ($stopIn)),
       |tf AS (SELECT doi, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
       |dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
       |dl AS (SELECT s.doi, count(t.term)::BIGINT AS dl
       |       FROM src s LEFT JOIN tok t USING (doi) GROUP BY s.doi),
       |stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
       |q(term, w) AS (VALUES $qvals),
       |scored AS (
       |  SELECT tf.doi, sum(q.w * ${Oracle.bm25Expr}) AS score
       |  FROM q
       |  JOIN tf ON tf.term = q.term
       |  JOIN dft ON dft.term = q.term
       |  JOIN dl ON dl.doi = tf.doi
       |  CROSS JOIN stats s
       |  GROUP BY tf.doi),
       |exps AS (SELECT term FROM (SELECT DISTINCT term FROM tok)
       |         WHERE term LIKE '$prefix%' ORDER BY term LIMIT 50),
       |pdocs AS (SELECT DISTINCT tf.doi, 1.0 AS p
       |          FROM tf JOIN exps USING (term)),
       |unioned AS (
       |  SELECT coalesce(s.doi, p.doi) AS doi,
       |         coalesce(s.score, 0.0) + coalesce(p.p, 0.0) AS score
       |  FROM scored s FULL OUTER JOIN pdocs p ON s.doi = p.doi),
       |ranked AS (
       |  SELECT doi, CAST(round(score * 1000000.0) AS BIGINT) AS score_x6,
       |    row_number() OVER (ORDER BY CAST(round(score * 1000000.0) AS BIGINT) DESC,
       |                       doi ASC) AS rnk
       |  FROM unioned)
       |SELECT rnk, doi, score_x6 FROM ranked WHERE rnk <= $K ORDER BY rnk""".stripMargin
  }

  /** more_like_this replay over the reconstructed bibliographic field:
    * candidate terms from the seed doc's tf rows filtered by (mtf, mdf),
    * ranked by micro-rounded tf·idf with term tie-break, capped; the
    * chosen terms replay as a weight-1 BM25 bool/should with
    * HAVING count(DISTINCT term) ≥ the same floor(n·pct/100) (min 1) the
    * engine computes, seed doc excluded. */
  def fieldMltSql: String = {
    val stopIn = Analyzer.EnglishStopSorted.map(s => s"'$s'").mkString(", ")
    val (mtf, mdf, mqt, pct) = MltParams
    val idf = "ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))"
    s"""WITH src AS (
       |  SELECT * FROM read_json('${Oracle.fixturesDir}/ndjson_plain.ndjson',
       |    format='newline_delimited', columns={'DOI':'VARCHAR','title':'VARCHAR[]',
       |    'author':'STRUCT(given VARCHAR, family VARCHAR, sequence VARCHAR)[]',
       |    'container-title':'VARCHAR[]','short-container-title':'VARCHAR[]',
       |    'volume':'VARCHAR','issue':'VARCHAR','page':'VARCHAR'$dateCols})),
       |base AS (SELECT DOI AS doi, ${Oracle.bibliographicExpr} AS bib FROM src),
       |tok AS (SELECT doi, t AS term FROM
       |          (SELECT doi, unnest(string_split(lower(bib), ' ')) AS t FROM base)
       |        WHERE t <> '' AND t NOT IN ($stopIn)),
       |tf AS (SELECT doi, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
       |dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
       |dl AS (SELECT doi, count(*)::BIGINT AS dl FROM tok GROUP BY doi),
       |stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
       |cand AS (
       |  SELECT tf.term,
       |         CAST(round(tf.tf * ($idf) * 1000000.0) AS BIGINT) AS sx6
       |  FROM tf JOIN dft USING (term) CROSS JOIN stats s
       |  WHERE tf.doi = '$MltKey' AND tf.tf >= $mtf AND dft.df >= $mdf),
       |chosen AS (SELECT term FROM cand ORDER BY sx6 DESC, term ASC LIMIT $mqt),
       |msm AS (SELECT greatest(1,
       |    CAST(floor(count(*) * $pct / 100.0) AS BIGINT)) AS m FROM chosen),
       |scored AS (
       |  SELECT tf.doi, sum(1 * ${Oracle.bm25Expr}) AS score
       |  FROM chosen q
       |  JOIN tf ON tf.term = q.term
       |  JOIN dft ON dft.term = q.term
       |  JOIN dl ON dl.doi = tf.doi
       |  CROSS JOIN stats s
       |  WHERE tf.doi <> '$MltKey'
       |  GROUP BY tf.doi
       |  HAVING count(DISTINCT tf.term) >= (SELECT m FROM msm)),
       |ranked AS (
       |  SELECT doi, CAST(round(score * 1000000.0) AS BIGINT) AS score_x6,
       |    row_number() OVER (ORDER BY CAST(round(score * 1000000.0) AS BIGINT) DESC,
       |                       doi ASC) AS rnk
       |  FROM scored)
       |SELECT rnk, doi, score_x6 FROM ranked WHERE rnk <= $K ORDER BY rnk""".stripMargin
  }

  /** Bool-with-phrase replay: the bibliographic leg CTE block (field stats
    * over the bib sub-corpus, [[fieldMultiSql]]'s shape) UNION'd with
    * phrase-clause scores from the positional title machinery
    * ([[fieldPhraseSql]]'s shape); qid 1 = plain sum, qid 2 = HAVING
    * count(*) >= 2 (minimum_should_match over clause rows — each clause
    * CTE emits ≤1 row per doi, phrase rows only at pf > 0). */
  def fieldBoolPhraseSql: String = {
    val stopIn = Analyzer.EnglishStopSorted.map(s => s"'$s'").mkString(", ")
    val gap = Analyzer.PositionIncrementGap
    val bibW = {
      import scala.jdk.CollectionConverters._
      val (_, counts) = Analyzer.chainCounts(Analyzer.TextStop,
        Iterator(MultiLegs(0)._2))
      counts.entrySet().asScala.map(e =>
        e.getKey -> e.getValue.intValue()).toSeq.sortBy(_._1)
    }
    val bqvals = bibW.map { case (t, w) => s"('$t', $w)" }.mkString(", ")
    def phraseBlock(pid: Int, text: String): String = {
      val occs = Analyzer.analyzeChainPos(Analyzer.TextStop, text)
      require(occs.nonEmpty, s"phrase $pid analyzed to nothing")
      val base = occs(0)._2
      val joins = occs.zipWithIndex.drop(1).map { case ((t, p), j) =>
        s"  JOIN tok t$j ON t$j.doi = t0.doi AND t$j.pos = t0.pos + ${p - base} AND t$j.term = '$t'"
      }.mkString("\n")
      val qterms = occs.map { case (t, _) => s"('$t')" }.mkString(", ")
      s"""p${pid}_t(term) AS (VALUES $qterms),
         |p${pid}_sidf AS (
         |  SELECT sum(ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))) AS sidf
         |  FROM p${pid}_t q JOIN dft ON dft.term = q.term CROSS JOIN stats s),
         |p${pid}_occ AS (SELECT t0.doi, t0.pos FROM tok t0
         |$joins
         |  WHERE t0.term = '${occs(0)._1}'),
         |p${pid}_pf AS (SELECT doi, count(*)::BIGINT AS pf FROM p${pid}_occ GROUP BY doi),
         |p${pid}_leg AS (SELECT pf.doi,
         |    si.sidf * (pf.pf / (pf.pf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl))) AS c
         |  FROM p${pid}_pf pf
         |  JOIN dl ON dl.doi = pf.doi
         |  CROSS JOIN stats s CROSS JOIN p${pid}_sidf si)""".stripMargin
    }
    s"""WITH src AS (
       |  SELECT * FROM read_json('${Oracle.fixturesDir}/ndjson_plain.ndjson',
       |    format='newline_delimited', columns={'DOI':'VARCHAR','title':'VARCHAR[]',
       |    'author':'STRUCT(given VARCHAR, family VARCHAR, sequence VARCHAR)[]',
       |    'container-title':'VARCHAR[]','short-container-title':'VARCHAR[]',
       |    'volume':'VARCHAR','issue':'VARCHAR','page':'VARCHAR'$dateCols})),
       |base AS (SELECT DOI AS doi, ${Oracle.bibliographicExpr} AS bib, title FROM src),
       |b_tok AS (SELECT doi, t AS term FROM
       |            (SELECT doi, unnest(string_split(lower(bib), ' ')) AS t FROM base)
       |          WHERE t <> '' AND t NOT IN ($stopIn)),
       |b_tf AS (SELECT doi, term, count(*)::BIGINT AS tf FROM b_tok GROUP BY 1, 2),
       |b_dft AS (SELECT term, count(*)::BIGINT AS df FROM b_tf GROUP BY term),
       |b_dl AS (SELECT doi, count(*)::BIGINT AS dl FROM b_tok GROUP BY doi),
       |b_stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM b_dl),
       |b_q(term, w) AS (VALUES $bqvals),
       |b_leg AS (
       |  SELECT tf.doi, sum(q.w * ${Oracle.bm25Expr}) AS c
       |  FROM b_q q
       |  JOIN b_tf tf ON tf.term = q.term
       |  JOIN b_dft dft ON dft.term = q.term
       |  JOIN b_dl dl ON dl.doi = tf.doi
       |  CROSS JOIN b_stats s
       |  GROUP BY tf.doi),
       |tsrc AS (SELECT doi, title FROM base
       |        WHERE len(list_filter(title, t -> t IS NOT NULL AND t <> '')) > 0),
       |vals AS (SELECT doi, v, string_split(lower(el), ' ') AS toks FROM
       |          (SELECT doi, unnest(title) AS el,
       |                  unnest(range(len(title))) AS v FROM tsrc) u),
       |offs AS (SELECT doi, v, toks,
       |    coalesce(sum(len(toks) + $gap) OVER (PARTITION BY doi ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
       |  FROM vals),
       |tok0 AS (SELECT doi, off + unnest(range(len(toks))) AS pos,
       |                unnest(toks) AS term FROM offs),
       |tok AS (SELECT doi, pos, term FROM tok0
       |        WHERE term <> '' AND term NOT IN ($stopIn)),
       |dl AS (SELECT s.doi, count(t.term)::BIGINT AS dl
       |       FROM tsrc s LEFT JOIN tok t USING (doi) GROUP BY s.doi),
       |stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
       |dft AS (SELECT term, count(DISTINCT doi)::BIGINT AS df FROM tok GROUP BY term),
       |${phraseBlock(1, BoolPhraseMass)},
       |${phraseBlock(2, BoolPhraseSelective)},
       |q1s AS (SELECT doi, sum(c) AS score FROM
       |          (SELECT doi, c FROM b_leg UNION ALL
       |           SELECT doi, c FROM p1_leg) u GROUP BY doi),
       |q2s AS (SELECT doi, sum(c) AS score FROM
       |          (SELECT doi, c FROM b_leg UNION ALL
       |           SELECT doi, c FROM p2_leg) u GROUP BY doi
       |        HAVING count(*) >= 2),
       |scored AS (SELECT 1 AS qid, doi, score FROM q1s UNION ALL
       |           SELECT 2 AS qid, doi, score FROM q2s),
       |ranked AS (
       |  SELECT qid, doi, CAST(round(score * 1000000.0) AS BIGINT) AS score_x6,
       |         row_number() OVER (PARTITION BY qid
       |           ORDER BY CAST(round(score * 1000000.0) AS BIGINT) DESC, doi ASC) AS rnk
       |  FROM scored)
       |SELECT CAST(qid AS BIGINT) AS qid, rnk, doi, score_x6
       |FROM ranked WHERE rnk <= $K ORDER BY qid, rnk""".stripMargin
  }

  /** Full-ES-bool replay: the must leg (bibliographic, its own field
    * stats) INNER-drives the result set; the should leg (title stats)
    * LEFT-joins in (coalesce 0 — optional, unranked docs keep their must
    * score); must_not is a NOT IN over the year cohort. Score =
    * must + coalesce(should). */
  def fieldBoolFullSql: String = {
    val stopIn = Analyzer.EnglishStopSorted.map(s => s"'$s'").mkString(", ")
    def weights(text: String): Seq[(String, Int)] = {
      import scala.jdk.CollectionConverters._
      val (_, counts) = Analyzer.chainCounts(Analyzer.TextStop, Iterator(text))
      counts.entrySet().asScala.map(e =>
        e.getKey -> e.getValue.intValue()).toSeq.sortBy(_._1)
    }
    def qvals(ws: Seq[(String, Int)]): String =
      ws.map { case (t, w) => s"('$t', $w)" }.mkString(", ")
    val yt = Analyzer.analyzeKeywordFold(BoolFullMustNotYear)
    s"""WITH src AS (
       |  SELECT * FROM read_json('${Oracle.fixturesDir}/ndjson_plain.ndjson',
       |    format='newline_delimited', columns={'DOI':'VARCHAR','title':'VARCHAR[]',
       |    'author':'STRUCT(given VARCHAR, family VARCHAR, sequence VARCHAR)[]',
       |    'container-title':'VARCHAR[]','short-container-title':'VARCHAR[]',
       |    'volume':'VARCHAR','issue':'VARCHAR','page':'VARCHAR'$dateCols})),
       |base AS (SELECT DOI AS doi, ${Oracle.bibliographicExpr} AS bib, title,
       |  CAST((${Oracle.yearCase("")}) AS VARCHAR) AS y FROM src),
       |b_tok AS (SELECT doi, t AS term FROM
       |            (SELECT doi, unnest(string_split(lower(bib), ' ')) AS t FROM base)
       |          WHERE t <> '' AND t NOT IN ($stopIn)),
       |b_tf AS (SELECT doi, term, count(*)::BIGINT AS tf FROM b_tok GROUP BY 1, 2),
       |b_dft AS (SELECT term, count(*)::BIGINT AS df FROM b_tf GROUP BY term),
       |b_dl AS (SELECT doi, count(*)::BIGINT AS dl FROM b_tok GROUP BY doi),
       |b_stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM b_dl),
       |b_q(term, w) AS (VALUES ${qvals(weights(BoolFullMust))}),
       |b_leg AS (
       |  SELECT tf.doi, sum(q.w * ${Oracle.bm25Expr}) AS c
       |  FROM b_q q
       |  JOIN b_tf tf ON tf.term = q.term
       |  JOIN b_dft dft ON dft.term = q.term
       |  JOIN b_dl dl ON dl.doi = tf.doi
       |  CROSS JOIN b_stats s
       |  GROUP BY tf.doi),
       |tsrc AS (SELECT doi, title FROM base
       |        WHERE len(list_filter(title, t -> t IS NOT NULL AND t <> '')) > 0),
       |t_el AS (SELECT doi, unnest(title) AS el FROM tsrc),
       |t_tok AS (SELECT doi, t AS term FROM
       |            (SELECT doi, unnest(string_split(lower(el), ' ')) AS t FROM t_el)
       |          WHERE t <> '' AND t NOT IN ($stopIn)),
       |t_tf AS (SELECT doi, term, count(*)::BIGINT AS tf FROM t_tok GROUP BY 1, 2),
       |t_dft AS (SELECT term, count(*)::BIGINT AS df FROM t_tf GROUP BY term),
       |t_dl AS (SELECT s.doi, count(t.term)::BIGINT AS dl
       |         FROM tsrc s LEFT JOIN t_tok t USING (doi) GROUP BY s.doi),
       |t_stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM t_dl),
       |t_q(term, w) AS (VALUES ${qvals(weights(BoolFullShould))}),
       |t_leg AS (
       |  SELECT tf.doi, sum(q.w * ${Oracle.bm25Expr}) AS c
       |  FROM t_q q
       |  JOIN t_tf tf ON tf.term = q.term
       |  JOIN t_dft dft ON dft.term = q.term
       |  JOIN t_dl dl ON dl.doi = tf.doi
       |  CROSS JOIN t_stats s
       |  GROUP BY tf.doi),
       |scored AS (
       |  SELECT b.doi, b.c + coalesce(t.c, 0) AS score
       |  FROM b_leg b LEFT JOIN t_leg t USING (doi)
       |  WHERE b.doi NOT IN (SELECT doi FROM base WHERE y = '$yt')),
       |ranked AS (
       |  SELECT doi, CAST(round(score * 1000000.0) AS BIGINT) AS score_x6,
       |    row_number() OVER (ORDER BY CAST(round(score * 1000000.0) AS BIGINT) DESC,
       |                       doi ASC) AS rnk
       |  FROM scored)
       |SELECT rnk, doi, score_x6 FROM ranked WHERE rnk <= $K ORDER BY rnk""".stripMargin
  }

  /** terms-agg replay: one year token per doc (keyword-fold on digits =
    * identity), df = doc count, ES (doc_count desc, key asc) ordering. */
  def fieldTermsAggSql: String =
    s"""WITH src AS (${fixtureSrc(dateCols)}),
       |y AS (SELECT CAST((${Oracle.yearCase("")}) AS VARCHAR) AS term FROM src),
       |agg AS (SELECT term, count(*)::BIGINT AS df FROM y GROUP BY term)
       |SELECT term, df FROM agg ORDER BY df DESC, term ASC LIMIT 10""".stripMargin

  /** exists replay: a doc exists in a field iff it has ≥1 non-empty value
    * under the mapping's source expression. */
  def fieldExistsSql: String =
    s"""WITH src AS (
       |  SELECT * FROM read_json('${Oracle.fixturesDir}/ndjson_plain.ndjson',
       |    format='newline_delimited', columns={'DOI':'VARCHAR',
       |    'volume':'VARCHAR','short-container-title':'VARCHAR[]'})),
       |rows AS (
       |  SELECT 'volume' AS field, DOI AS doi FROM src
       |  WHERE coalesce(volume, '') <> ''
       |  UNION ALL
       |  SELECT 'abbreviated_journal' AS field, DOI AS doi FROM src
       |  WHERE len(list_filter(coalesce("short-container-title", []),
       |        t -> t IS NOT NULL AND t <> '')) > 0)
       |SELECT field, doi FROM rows ORDER BY field, doi""".stripMargin

  /** Fuzzy replay: candidates via DuckDB's damerau_levenshtein (the same
    * full-Damerau the engine computes), capped per query term by
    * row_number() over (distance, df desc, term asc); each expansion
    * contributes boost · idf · tfNorm with boost = 1 − d/min(len(q),
    * len(t)) — the engine's FuzzyTermsEnum-shaped boost. */
  def fieldFuzzySql: String = {
    val stopIn = Analyzer.EnglishStopSorted.map(s => s"'$s'").mkString(", ")
    // analyzed (term, weight, maxEdits) triples, embedded pre-analyzed
    def qt(text: String, fz: Int): String =
      Analyzer.analyzeStop(text).groupBy(identity).view.mapValues(_.length)
        .toSeq.sortBy(_._1).map { case (t, w) =>
          val maxE =
            if (fz >= 0) math.min(fz, 2)
            else graft.query.Fuzzy.autoEdits(t)
          s"('$t', $w, $maxE)"
        }.mkString(", ")
    def fuzzyBlock(p: String, qvals: String, maxExp: Int): String =
      s"""${p}_qt(qterm, w, maxe) AS (VALUES $qvals),
         |${p}_cand0 AS (
         |  SELECT q.qterm, q.w, d.term, d.df,
         |         damerau_levenshtein(q.qterm, d.term) AS dist
         |  FROM ${p}_qt q JOIN ${p}_dft d
         |    ON damerau_levenshtein(q.qterm, d.term) <= q.maxe),
         |${p}_cand AS (
         |  SELECT qterm, w, term, df, dist FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qterm
         |      ORDER BY dist ASC, df DESC, term ASC) AS rn FROM ${p}_cand0)
         |  WHERE rn <= $maxExp),
         |${p}_scored AS (
         |  SELECT tf.doi,
         |    sum(q.w * (1.0 - q.dist * 1.0 / least(len(q.qterm), len(q.term)))
         |        * ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
         |        * (tf.tf / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)))) AS score
         |  FROM ${p}_cand q
         |  JOIN ${p}_tf tf ON tf.term = q.term
         |  JOIN ${p}_dft dft ON dft.term = q.term
         |  JOIN ${p}_dl dl ON dl.doi = tf.doi
         |  CROSS JOIN ${p}_stats s
         |  GROUP BY tf.doi)""".stripMargin
    s"""WITH src AS (
       |  SELECT * FROM read_json('${Oracle.fixturesDir}/ndjson_plain.ndjson',
       |    format='newline_delimited', columns={'DOI':'VARCHAR','title':'VARCHAR[]',
       |    'author':'STRUCT(given VARCHAR, family VARCHAR, sequence VARCHAR)[]',
       |    'container-title':'VARCHAR[]','short-container-title':'VARCHAR[]',
       |    'volume':'VARCHAR','issue':'VARCHAR','page':'VARCHAR'$dateCols})),
       |base AS (SELECT DOI AS doi, ${Oracle.bibliographicExpr} AS bib, title FROM src),
       |tsrc AS (SELECT doi, title FROM base
       |        WHERE len(list_filter(title, t -> t IS NOT NULL AND t <> '')) > 0),
       |t_el AS (SELECT doi, unnest(title) AS el FROM tsrc),
       |t_tok AS (SELECT doi, t AS term FROM
       |            (SELECT doi, unnest(string_split(lower(el), ' ')) AS t FROM t_el)
       |          WHERE t <> '' AND t NOT IN ($stopIn)),
       |t_tf AS (SELECT doi, term, count(*)::BIGINT AS tf FROM t_tok GROUP BY 1, 2),
       |t_dft AS (SELECT term, count(*)::BIGINT AS df FROM t_tf GROUP BY term),
       |t_dl AS (SELECT s.doi, count(t.term)::BIGINT AS dl
       |         FROM tsrc s LEFT JOIN t_tok t USING (doi) GROUP BY s.doi),
       |t_stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM t_dl),
       |${fuzzyBlock("t", qt(FuzzyTitleQuery, -1), 50)},
       |b_tok AS (SELECT doi, t AS term FROM
       |            (SELECT doi, unnest(string_split(lower(bib), ' ')) AS t FROM base)
       |          WHERE t <> '' AND t NOT IN ($stopIn)),
       |b_tf AS (SELECT doi, term, count(*)::BIGINT AS tf FROM b_tok GROUP BY 1, 2),
       |b_dft AS (SELECT term, count(*)::BIGINT AS df FROM b_tf GROUP BY term),
       |b_dl AS (SELECT doi, count(*)::BIGINT AS dl FROM b_tok GROUP BY doi),
       |b_stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM b_dl),
       |${fuzzyBlock("b", qt(FuzzyBibQuery, 1), FuzzyBibMaxExp)},
       |scored AS (SELECT 1 AS qid, doi, score FROM t_scored UNION ALL
       |           SELECT 2 AS qid, doi, score FROM b_scored),
       |ranked AS (
       |  SELECT qid, doi, CAST(round(score * 1000000.0) AS BIGINT) AS score_x6,
       |         row_number() OVER (PARTITION BY qid
       |           ORDER BY CAST(round(score * 1000000.0) AS BIGINT) DESC, doi ASC) AS rnk
       |  FROM scored)
       |SELECT CAST(qid AS BIGINT) AS qid, rnk, doi, score_x6
       |FROM ranked WHERE rnk <= $K ORDER BY qid, rnk""".stripMargin
  }

  /** Per-field BM25 replay: tokens = lower(split(title elements)) minus the
    * stop list (the fixture's titles are single-space ASCII, where this
    * equals the UAX#29 chain — same contract the corpus oracles use);
    * field stats from the title sub-corpus only; ranks tie-break on doi. */
  def bm25TitleSql: String = {
    val stopIn = Analyzer.EnglishStopSorted.map(s => s"'$s'").mkString(", ")
    val qvals = TitleQueries.flatMap { case (qid, q) =>
      Analyzer.analyzeStop(q).map(t => s"($qid, '$t')")
    }.mkString(", ")
    s"""WITH src0 AS (SELECT DOI AS doi, title FROM (${fixtureSrc()})),
       |src AS (SELECT doi, title FROM src0
       |        WHERE len(list_filter(title, t -> t IS NOT NULL AND t <> '')) > 0),
       |el AS (SELECT doi, unnest(title) AS el FROM src),
       |tok AS (SELECT doi, t AS term FROM
       |          (SELECT doi, unnest(string_split(lower(el), ' ')) AS t FROM el)
       |        WHERE t <> '' AND t NOT IN ($stopIn)),
       |tf AS (SELECT doi, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
       |dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
       |dl AS (SELECT s.doi, count(t.term)::BIGINT AS dl
       |       FROM src s LEFT JOIN tok t USING (doi) GROUP BY s.doi),
       |stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
       |qterms(qid, term) AS (VALUES $qvals),
       |scored AS (
       |  SELECT q.qid, tf.doi, sum(${Oracle.bm25Expr}) AS score
       |  FROM qterms q
       |  JOIN tf ON tf.term = q.term
       |  JOIN dft ON dft.term = q.term
       |  JOIN dl ON dl.doi = tf.doi
       |  CROSS JOIN stats s
       |  GROUP BY q.qid, tf.doi),
       |ranked AS (
       |  SELECT qid, doi, CAST(round(score * 1000000.0) AS BIGINT) AS score_x6,
       |         row_number() OVER (PARTITION BY qid
       |           ORDER BY CAST(round(score * 1000000.0) AS BIGINT) DESC, doi ASC) AS rnk
       |  FROM scored)
       |SELECT CAST(qid AS BIGINT) AS qid, rnk, doi, score_x6
       |FROM ranked WHERE rnk <= $K ORDER BY qid, rnk""".stripMargin
  }

  /** Range-filter replay: [[fieldFilteredSql]]'s shape with the allowed
    * cohort from a numeric BETWEEN on the year value (the range expansion
    * is an engine-side mechanism; semantically the filter IS the numeric
    * interval). */
  def fieldRangeSql: String = {
    val stopIn = Analyzer.EnglishStopSorted.map(s => s"'$s'").mkString(", ")
    val qvals = Analyzer.analyzeStop(RangeMatchText)
      .groupBy(identity).view.mapValues(_.length)
      .toSeq.sortBy(_._1)
      .map { case (t, w) => s"('$t', $w)" }.mkString(", ")
    s"""WITH src0 AS (SELECT DOI AS doi, title,
       |    CAST((${Oracle.yearCase("")}) AS BIGINT) AS y
       |  FROM (${fixtureSrc(dateCols)})),
       |src AS (SELECT doi, title FROM src0
       |        WHERE len(list_filter(title, t -> t IS NOT NULL AND t <> '')) > 0),
       |el AS (SELECT doi, unnest(title) AS el FROM src),
       |tok AS (SELECT doi, t AS term FROM
       |          (SELECT doi, unnest(string_split(lower(el), ' ')) AS t FROM el)
       |        WHERE t <> '' AND t NOT IN ($stopIn)),
       |tf AS (SELECT doi, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
       |dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
       |dl AS (SELECT s.doi, count(t.term)::BIGINT AS dl
       |       FROM src s LEFT JOIN tok t USING (doi) GROUP BY s.doi),
       |stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
       |q(term, w) AS (VALUES $qvals),
       |scored AS (
       |  SELECT tf.doi, sum(q.w * ${Oracle.bm25Expr}) AS score
       |  FROM q
       |  JOIN tf ON tf.term = q.term
       |  JOIN dft ON dft.term = q.term
       |  JOIN dl ON dl.doi = tf.doi
       |  CROSS JOIN stats s
       |  GROUP BY tf.doi),
       |allowed AS (SELECT doi FROM src0 WHERE y BETWEEN $RangeGte AND $RangeLte),
       |ranked AS (
       |  SELECT s.doi, CAST(round(s.score * 1000000.0) AS BIGINT) AS score_x6,
       |    row_number() OVER (ORDER BY CAST(round(s.score * 1000000.0) AS BIGINT) DESC,
       |                       s.doi ASC) AS rnk
       |  FROM scored s JOIN allowed USING (doi))
       |SELECT rnk, doi, score_x6 FROM ranked WHERE rnk <= $K ORDER BY rnk""".stripMargin
  }

  /** Prefix/wildcard replay: the keyword DOI term is lower(DOI); prefix =
    * LIKE 'p%', `?` = LIKE's `_`. */
  def fieldPrefixSql: String = {
    val pre = Analyzer.analyzeKeyword(PrefixQuery)
    val wild = Analyzer.analyzeKeyword(WildcardPattern).replace('?', '_')
    s"""WITH src AS (${fixtureSrc()}),
       |rows AS (
       |  SELECT 'prefix' AS pattern, DOI AS doi FROM src
       |  WHERE lower(DOI) LIKE '$pre%'
       |  UNION ALL
       |  SELECT 'wildcard' AS pattern, DOI AS doi FROM src
       |  WHERE lower(DOI) LIKE '$wild')
       |SELECT pattern, doi FROM rows ORDER BY pattern, doi""".stripMargin
  }

  /** function_score replay: the match's full BM25 ordering (the
    * pagedRankSql machinery) with each hit's score multiplied by
    * gauss(year) × weight × factor·sqrt(year); σ² and −2σ² embedded as
    * round-trip-exact double literals so both engines evaluate the same
    * IEEE expression; micro-rounded before ranking like every score. */
  def fieldFScoreSql: String = {
    val stopIn = Analyzer.EnglishStopSorted.map(s => s"'$s'").mkString(", ")
    val qvals = Analyzer.analyzeStop(SearchAfterText)
      .groupBy(identity).view.mapValues(_.length)
      .toSeq.sortBy(_._1)
      .map { case (t, w) => s"('$t', $w)" }.mkString(", ")
    val sigma2 = -FScoreGaussScale * FScoreGaussScale /
      (2.0 * math.log(FScoreGaussDecay))
    s"""WITH src0 AS (SELECT DOI AS doi, title,
       |         CAST((${Oracle.yearCase("")}) AS DOUBLE) AS y
       |       FROM (${fixtureSrc(dateCols)})),
       |src AS (SELECT doi, title, y FROM src0
       |        WHERE len(list_filter(title, t -> t IS NOT NULL AND t <> '')) > 0),
       |el AS (SELECT doi, unnest(title) AS el FROM src),
       |tok AS (SELECT doi, t AS term FROM
       |          (SELECT doi, unnest(string_split(lower(el), ' ')) AS t FROM el)
       |        WHERE t <> '' AND t NOT IN ($stopIn)),
       |tf AS (SELECT doi, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
       |dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
       |dl AS (SELECT s.doi, count(t.term)::BIGINT AS dl
       |       FROM src s LEFT JOIN tok t USING (doi) GROUP BY s.doi),
       |stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
       |q(term, w) AS (VALUES $qvals),
       |scored AS (
       |  SELECT tf.doi, sum(q.w * ${Oracle.bm25Expr}) AS score
       |  FROM q
       |  JOIN tf ON tf.term = q.term
       |  JOIN dft ON dft.term = q.term
       |  JOIN dl ON dl.doi = tf.doi
       |  CROSS JOIN stats s
       |  GROUP BY tf.doi),
       |dist AS (SELECT s.doi, s.score,
       |         greatest(abs(v.y - $FScoreGaussOrigin) - 0.0, 0.0) AS d, v.y
       |       FROM scored s JOIN src v USING (doi)),
       |fs AS (SELECT doi,
       |         score * (exp((d * d) / (-2 * $sigma2)) * $FScoreWeight
       |                  * ($FScoreFactor * sqrt(y))) AS score
       |       FROM dist),
       |ranked AS (
       |  SELECT doi, CAST(round(score * 1000000.0) AS BIGINT) AS score_x6,
       |         row_number() OVER (ORDER BY CAST(round(score * 1000000.0) AS BIGINT) DESC,
       |                            doi ASC) AS rnk
       |  FROM fs)
       |SELECT CAST(rnk AS BIGINT) AS rnk, doi, score_x6
       |FROM ranked WHERE rnk <= $FScoreK ORDER BY rnk""".stripMargin
  }

  /** _explain replay: the per-term decomposition for one doi, every
    * component micro-rounded; contrib parenthesized (w·idf)·tfNorm like
    * the engine's pre-multiplied cursor idf. */
  def fieldExplainSql: String = {
    val stopIn = Analyzer.EnglishStopSorted.map(s => s"'$s'").mkString(", ")
    val qvals = Analyzer.analyzeStop(SearchAfterText)
      .groupBy(identity).view.mapValues(_.length)
      .toSeq.sortBy(_._1)
      .map { case (t, w) => s"('$t', $w)" }.mkString(", ")
    val idf = "ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))"
    val tfn = "(tf.tf / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)))"
    s"""WITH src0 AS (SELECT DOI AS doi, title FROM (${fixtureSrc()})),
       |src AS (SELECT doi, title FROM src0
       |        WHERE len(list_filter(title, t -> t IS NOT NULL AND t <> '')) > 0),
       |el AS (SELECT doi, unnest(title) AS el FROM src),
       |tok AS (SELECT doi, t AS term FROM
       |          (SELECT doi, unnest(string_split(lower(el), ' ')) AS t FROM el)
       |        WHERE t <> '' AND t NOT IN ($stopIn)),
       |tf AS (SELECT doi, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
       |dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
       |dl AS (SELECT s.doi, count(t.term)::BIGINT AS dl
       |       FROM src s LEFT JOIN tok t USING (doi) GROUP BY s.doi),
       |stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
       |q(term, w) AS (VALUES $qvals)
       |SELECT q.term, q.w AS weight, tf.tf, dft.df, dl.dl,
       |       CAST(round(($idf) * 1000000.0) AS BIGINT) AS idf_x6,
       |       CAST(round(($tfn) * 1000000.0) AS BIGINT) AS tf_norm_x6,
       |       CAST(round(((q.w * $idf) * $tfn) * 1000000.0) AS BIGINT) AS contrib_x6
       |FROM q
       |JOIN tf ON tf.term = q.term AND tf.doi = '$ExplainKey'
       |JOIN dft ON dft.term = q.term
       |JOIN dl ON dl.doi = tf.doi
       |CROSS JOIN stats s
       |ORDER BY q.term""".stripMargin
  }

  /** boosting replay: the match's BM25 ordering with the 1997 cohort's
    * scores × negative_boost before the final micro-round. */
  def fieldBoostingSql: String = {
    val stopIn = Analyzer.EnglishStopSorted.map(s => s"'$s'").mkString(", ")
    val qvals = Analyzer.analyzeStop(SearchAfterText)
      .groupBy(identity).view.mapValues(_.length)
      .toSeq.sortBy(_._1)
      .map { case (t, w) => s"('$t', $w)" }.mkString(", ")
    s"""WITH src0 AS (SELECT DOI AS doi, title,
       |         CAST((${Oracle.yearCase("")}) AS BIGINT) AS y
       |       FROM (${fixtureSrc(dateCols)})),
       |src AS (SELECT doi, title, y FROM src0
       |        WHERE len(list_filter(title, t -> t IS NOT NULL AND t <> '')) > 0),
       |el AS (SELECT doi, unnest(title) AS el FROM src),
       |tok AS (SELECT doi, t AS term FROM
       |          (SELECT doi, unnest(string_split(lower(el), ' ')) AS t FROM el)
       |        WHERE t <> '' AND t NOT IN ($stopIn)),
       |tf AS (SELECT doi, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
       |dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
       |dl AS (SELECT s.doi, count(t.term)::BIGINT AS dl
       |       FROM src s LEFT JOIN tok t USING (doi) GROUP BY s.doi),
       |stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
       |q(term, w) AS (VALUES $qvals),
       |scored AS (
       |  SELECT tf.doi, sum(q.w * ${Oracle.bm25Expr}) AS score
       |  FROM q
       |  JOIN tf ON tf.term = q.term
       |  JOIN dft ON dft.term = q.term
       |  JOIN dl ON dl.doi = tf.doi
       |  CROSS JOIN stats s
       |  GROUP BY tf.doi),
       |fs AS (SELECT s.doi,
       |         CASE WHEN v.y = $BoostingNegYear THEN s.score * $BoostingNb
       |              ELSE s.score END AS score
       |       FROM scored s JOIN src v USING (doi)),
       |ranked AS (
       |  SELECT doi, CAST(round(score * 1000000.0) AS BIGINT) AS score_x6,
       |         row_number() OVER (ORDER BY CAST(round(score * 1000000.0) AS BIGINT) DESC,
       |                            doi ASC) AS rnk
       |  FROM fs)
       |SELECT CAST(rnk AS BIGINT) AS rnk, doi, score_x6
       |FROM ranked WHERE rnk <= $K ORDER BY rnk""".stripMargin
  }

  /** range-agg replay: declared buckets LEFT-join the per-doc years so
    * empty buckets emit 0 (the ES declared-ranges contract). */
  def fieldAggRangeSql: String = {
    val buckets = RangeAggBuckets.zipWithIndex.map { case ((f, t), i) =>
      def v(o: Option[Long]) =
        o.map(_.toString).getOrElse("CAST(NULL AS BIGINT)")
      s"(CAST($i AS BIGINT), ${v(f)}, ${v(t)})"
    }.mkString(", ")
    s"""WITH src AS (${fixtureSrc(dateCols)}),
       |y0 AS (SELECT CAST((${Oracle.yearCase("")}) AS BIGINT) AS y FROM src),
       |y AS (SELECT y FROM y0 WHERE y IS NOT NULL),
       |b(bucket_idx, from_v, to_v) AS (VALUES $buckets)
       |SELECT b.bucket_idx, b.from_v, b.to_v, count(y.y)::BIGINT AS doc_count
       |FROM b LEFT JOIN y ON (b.from_v IS NULL OR y.y >= b.from_v)
       |                  AND (b.to_v IS NULL OR y.y < b.to_v)
       |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin
  }

  /** percentiles replay: quantile_cont over the per-doc years — the same
    * (n−1)·p linear interpolation as Spark's exact `percentile`. */
  def fieldAggPctSql: String = {
    // quantile_cont demands a CONSTANT percentile — one branch per p
    val branches = Seq(0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99).map { p =>
      s"""SELECT CAST(${math.round(p * 1e6)} AS BIGINT) AS pct_x6,
         |       CAST(round(quantile_cont(y, $p) * 1000000.0) AS BIGINT) AS value_x6
         |FROM y""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH src AS (${fixtureSrc(dateCols)}),
       |y0 AS (SELECT CAST((${Oracle.yearCase("")}) AS BIGINT) AS y FROM src),
       |y AS (SELECT y FROM y0 WHERE y IS NOT NULL)
       |$branches
       |ORDER BY pct_x6""".stripMargin
  }

  /** percentile_ranks replay: cumulative df fraction ≤ each probe, the
    * engine's exact (100·le)/tot parenthesization before the micro-round. */
  def fieldAggPctRanksSql: String = {
    val branches = PctRankProbes.map { v =>
      s"""SELECT CAST($v AS BIGINT) AS value,
         |  CAST(round(((100.0 * (SELECT coalesce(sum(c), 0) FROM yc WHERE y <= $v))
         |    / (SELECT sum(c) FROM yc)) * 1000000.0) AS BIGINT) AS rank_x6""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH src AS (${fixtureSrc(dateCols)}),
       |y0 AS (SELECT CAST((${Oracle.yearCase("")}) AS BIGINT) AS y FROM src),
       |yc AS (SELECT y, count(*)::BIGINT AS c FROM y0 WHERE y IS NOT NULL GROUP BY y)
       |$branches
       |ORDER BY value""".stripMargin
  }

  /** regexp replay: DuckDB regexp_matches with the engine's exact anchored
    * wrap over the lowercased keyword terms (both engines RE2/Java-regex
    * compatible on this subset: alternation, classes, bounded repeats). */
  def fieldRegexpSql: String = {
    val alt = Analyzer.analyzeKeyword(RegexpAlt)
    val qnt = Analyzer.analyzeKeyword(RegexpQuant)
    s"""WITH src AS (${fixtureSrc()}),
       |rows AS (
       |  SELECT 'alt' AS pattern, DOI AS doi FROM src
       |  WHERE regexp_matches(lower(DOI), '^(?:$alt)$$')
       |  UNION ALL
       |  SELECT 'quant' AS pattern, DOI AS doi FROM src
       |  WHERE regexp_matches(lower(DOI), '^(?:$qnt)$$'))
       |SELECT pattern, doi FROM rows ORDER BY pattern, doi""".stripMargin
  }

  /** match_phrase_prefix replay: the positional title machinery of
    * [[fieldPhraseSql]] with the LAST slot as a term-order-capped LIKE
    * expansion over the field dictionary (the MultiPhrasePrefixQuery
    * rewrite); idf sums over fixed occurrences + every expansion
    * (MultiPhraseWeight), pf counts starts where the last slot matches ANY
    * expansion. */
  def fieldPhrasePrefixSql: String = {
    val stopIn = Analyzer.EnglishStopSorted.map(s => s"'$s'").mkString(", ")
    val gap = Analyzer.PositionIncrementGap
    val blocks = PhrasePrefixQueries.map { case (qid, q) =>
      val occs = Analyzer.analyzeChainPos(Analyzer.TextStop, q)
      require(occs.nonEmpty, s"phrase-prefix $qid analyzed to nothing")
      val fixed = occs.dropRight(1)
      val (lastTerm, lastPos) = occs.last
      val base = occs(0)._2
      val expCte =
        s"""q${qid}_exp AS (SELECT term, df FROM (
           |    SELECT term, df, row_number() OVER (ORDER BY term) AS rn
           |    FROM dft WHERE term LIKE '$lastTerm%')
           |  WHERE rn <= $PhrasePrefixMaxExp)""".stripMargin
      val fixedIdf =
        if (fixed.isEmpty) "0.0"
        else {
          val vals = fixed.map { case (t, _) => s"('$t')" }.mkString(", ")
          s"""(SELECT coalesce(sum(ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))), 0.0)
             |     FROM (VALUES $vals) q(term) JOIN dft ON dft.term = q.term
             |     CROSS JOIN stats s)""".stripMargin
        }
      val sidfCte =
        s"""q${qid}_sidf AS (SELECT
           |    $fixedIdf
           |  + (SELECT coalesce(sum(ln(1.0 + (s.n_docs - e.df + 0.5) / (e.df + 0.5))), 0.0)
           |     FROM q${qid}_exp e CROSS JOIN stats s) AS sidf)""".stripMargin
      val occCte =
        if (fixed.isEmpty)
          s"""q${qid}_occ AS (
             |  SELECT t.doi, t.pos FROM tok t
             |  JOIN q${qid}_exp e ON e.term = t.term)""".stripMargin
        else {
          val joins = fixed.zipWithIndex.drop(1).map { case ((t, p), j) =>
            s"  JOIN tok t$j ON t$j.doi = t0.doi AND t$j.pos = t0.pos + ${p - base} AND t$j.term = '$t'"
          }.mkString("\n")
          s"""q${qid}_occ AS (
             |  SELECT t0.doi, t0.pos FROM tok t0
             |${if (joins.nonEmpty) joins + "\n" else ""}  JOIN tok tl ON tl.doi = t0.doi AND tl.pos = t0.pos + ${lastPos - base}
             |  JOIN q${qid}_exp e ON e.term = tl.term
             |  WHERE t0.term = '${fixed(0)._1}')""".stripMargin
        }
      s"""$expCte,
         |$sidfCte,
         |$occCte,
         |q${qid}_pf AS (SELECT doi, count(*)::BIGINT AS pf FROM q${qid}_occ GROUP BY doi),
         |q${qid}_scored AS (SELECT $qid AS qid, pf.doi,
         |    si.sidf * (pf.pf / (pf.pf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl))) AS score
         |  FROM q${qid}_pf pf
         |  JOIN dl ON dl.doi = pf.doi
         |  CROSS JOIN stats s CROSS JOIN q${qid}_sidf si)""".stripMargin
    }
    val unionScored = PhrasePrefixQueries.map { case (qid, _) =>
      s"SELECT qid, doi, score FROM q${qid}_scored" }.mkString(" UNION ALL ")
    s"""WITH src0 AS (SELECT DOI AS doi, title FROM (${fixtureSrc()})),
       |src AS (SELECT doi, title FROM src0
       |        WHERE len(list_filter(title, t -> t IS NOT NULL AND t <> '')) > 0),
       |vals AS (SELECT doi, v, string_split(lower(el), ' ') AS toks FROM
       |          (SELECT doi, unnest(title) AS el,
       |                  unnest(range(len(title))) AS v FROM src) u),
       |offs AS (SELECT doi, v, toks,
       |    coalesce(sum(len(toks) + $gap) OVER (PARTITION BY doi ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
       |  FROM vals),
       |tok0 AS (SELECT doi, off + unnest(range(len(toks))) AS pos,
       |                unnest(toks) AS term FROM offs),
       |tok AS (SELECT doi, pos, term FROM tok0
       |        WHERE term <> '' AND term NOT IN ($stopIn)),
       |dl AS (SELECT s.doi, count(t.term)::BIGINT AS dl
       |       FROM src s LEFT JOIN tok t USING (doi) GROUP BY s.doi),
       |stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
       |dft AS (SELECT term, count(DISTINCT doi)::BIGINT AS df FROM tok GROUP BY term),
       |${blocks.mkString(",\n")},
       |scored AS ($unionScored),
       |ranked AS (
       |  SELECT qid, doi, CAST(round(score * 1000000.0) AS BIGINT) AS score_x6,
       |         row_number() OVER (PARTITION BY qid
       |           ORDER BY CAST(round(score * 1000000.0) AS BIGINT) DESC, doi ASC) AS rnk
       |  FROM scored)
       |SELECT CAST(qid AS BIGINT) AS qid, rnk, doi, score_x6
       |FROM ranked WHERE rnk <= $K ORDER BY qid, rnk""".stripMargin
  }

  /** Pagination replay: [[bm25TitleSql]]'s scoring with the rank window
    * sliced to (from, from + size]. */
  def fieldPageSql: String = {
    val stopIn = Analyzer.EnglishStopSorted.map(s => s"'$s'").mkString(", ")
    val qvals = TitleQueries.flatMap { case (qid, q) =>
      Analyzer.analyzeStop(q).map(t => s"($qid, '$t')")
    }.mkString(", ")
    s"""WITH src0 AS (SELECT DOI AS doi, title FROM (${fixtureSrc()})),
       |src AS (SELECT doi, title FROM src0
       |        WHERE len(list_filter(title, t -> t IS NOT NULL AND t <> '')) > 0),
       |el AS (SELECT doi, unnest(title) AS el FROM src),
       |tok AS (SELECT doi, t AS term FROM
       |          (SELECT doi, unnest(string_split(lower(el), ' ')) AS t FROM el)
       |        WHERE t <> '' AND t NOT IN ($stopIn)),
       |tf AS (SELECT doi, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
       |dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
       |dl AS (SELECT s.doi, count(t.term)::BIGINT AS dl
       |       FROM src s LEFT JOIN tok t USING (doi) GROUP BY s.doi),
       |stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
       |qterms(qid, term) AS (VALUES $qvals),
       |scored AS (
       |  SELECT q.qid, tf.doi, sum(${Oracle.bm25Expr}) AS score
       |  FROM qterms q
       |  JOIN tf ON tf.term = q.term
       |  JOIN dft ON dft.term = q.term
       |  JOIN dl ON dl.doi = tf.doi
       |  CROSS JOIN stats s
       |  GROUP BY q.qid, tf.doi),
       |ranked AS (
       |  SELECT qid, doi, CAST(round(score * 1000000.0) AS BIGINT) AS score_x6,
       |         row_number() OVER (PARTITION BY qid
       |           ORDER BY CAST(round(score * 1000000.0) AS BIGINT) DESC, doi ASC) AS rnk
       |  FROM scored)
       |SELECT CAST(qid AS BIGINT) AS qid, rnk, doi, score_x6
       |FROM ranked WHERE rnk > $PageFrom AND rnk <= ${PageFrom + PageSize}
       |ORDER BY qid, rnk""".stripMargin
  }

  /** top_hits replay: the title-field match scored per doc, joined to the
    * year term, ranked within each bucket. */
  def fieldTopHitsSql: String = {
    val stopIn = Analyzer.EnglishStopSorted.map(s => s"'$s'").mkString(", ")
    val qvals = Analyzer.analyzeStop(TopHitsText)
      .groupBy(identity).view.mapValues(_.length)
      .toSeq.sortBy(_._1)
      .map { case (t, w) => s"('$t', $w)" }.mkString(", ")
    s"""WITH src0 AS (SELECT DOI AS doi, title,
       |    CAST((${Oracle.yearCase("")}) AS VARCHAR) AS yterm
       |  FROM (${fixtureSrc(dateCols)})),
       |src AS (SELECT doi, title FROM src0
       |        WHERE len(list_filter(title, t -> t IS NOT NULL AND t <> '')) > 0),
       |el AS (SELECT doi, unnest(title) AS el FROM src),
       |tok AS (SELECT doi, t AS term FROM
       |          (SELECT doi, unnest(string_split(lower(el), ' ')) AS t FROM el)
       |        WHERE t <> '' AND t NOT IN ($stopIn)),
       |tf AS (SELECT doi, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
       |dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
       |dl AS (SELECT s.doi, count(t.term)::BIGINT AS dl
       |       FROM src s LEFT JOIN tok t USING (doi) GROUP BY s.doi),
       |stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
       |q(term, w) AS (VALUES $qvals),
       |scored AS (
       |  SELECT tf.doi, sum(q.w * ${Oracle.bm25Expr}) AS score
       |  FROM q
       |  JOIN tf ON tf.term = q.term
       |  JOIN dft ON dft.term = q.term
       |  JOIN dl ON dl.doi = tf.doi
       |  CROSS JOIN stats s
       |  GROUP BY tf.doi),
       |ranked AS (
       |  SELECT y.yterm AS term, s.doi,
       |    CAST(round(s.score * 1000000.0) AS BIGINT) AS score_x6,
       |    row_number() OVER (PARTITION BY y.yterm
       |      ORDER BY CAST(round(s.score * 1000000.0) AS BIGINT) DESC, s.doi ASC) AS rnk
       |  FROM scored s JOIN src0 y USING (doi))
       |SELECT term, rnk, doi, score_x6 FROM ranked
       |WHERE rnk <= $TopHitsSize ORDER BY term, rnk""".stripMargin
  }

  /** _count + sort replay: distinct-doc counts of the analyzed term
    * unions, and the volume cohort ordered by numeric year desc. */
  def fieldCountSortSql: String = {
    val stopIn = Analyzer.EnglishStopSorted.map(s => s"'$s'").mkString(", ")
    val countSelects = CountTexts.zipWithIndex.map { case (t, i) =>
      val terms = Analyzer.analyzeChain(Analyzer.TextStop, t)
        .distinct.map(x => s"'$x'").mkString(", ")
      s"""SELECT ${i}::BIGINT AS rnk, 'count:$t' AS key,
         |       count(DISTINCT doi)::BIGINT AS value
         |  FROM tok WHERE term IN ($terms)""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH src0 AS (SELECT DOI AS doi, title, coalesce(volume, '') AS vol,
       |    CAST((${Oracle.yearCase("")}) AS BIGINT) AS y
       |  FROM (${fixtureSrc(",\n    'volume':'VARCHAR'" + dateCols)})),
       |el AS (SELECT doi, unnest(title) AS el FROM src0),
       |tok AS (SELECT doi, t AS term FROM
       |          (SELECT doi, unnest(string_split(lower(el), ' ')) AS t FROM el)
       |        WHERE t <> '' AND t NOT IN ($stopIn)),
       |counts AS (
       |  $countSelects),
       |cohort AS (SELECT doi, y FROM src0 WHERE vol = '$SortFilterVol'
       |           ORDER BY y DESC, doi ASC LIMIT $SortK),
       |sorted AS (SELECT
       |    (row_number() OVER (ORDER BY y DESC, doi ASC) + 100)::BIGINT AS rnk,
       |    'sort:' || doi AS key, y AS value
       |  FROM cohort)
       |SELECT rnk, key, value FROM counts
       |UNION ALL SELECT rnk, key, value FROM sorted
       |ORDER BY rnk""".stripMargin
  }

  /** simple_query_string replay: the parsed clause set of [[QStringQuery]]
    * written out explicitly — required term (inner join), optional term
    * and phrase (left-join contributions), excluded term (anti-join) —
    * over the title field's stats and the positional machinery. */
  def fieldQStringSql: String = {
    val stopIn = Analyzer.EnglishStopSorted.map(s => s"'$s'").mkString(", ")
    val gap = Analyzer.PositionIncrementGap
    val p = graft.index.FieldedIndex.parseSimpleQuery(QStringQuery)
    require(p.must == Seq("record") && p.should == Seq("42") &&
      p.shouldPhrases == Seq("second title") && p.mustNot == Seq("999"),
      s"QStringQuery parse drifted: $p")
    val phraseOccs = Analyzer.analyzeChainPos(Analyzer.TextStop, "second title")
    val base = phraseOccs(0)._2
    val phraseJoins = phraseOccs.zipWithIndex.drop(1).map { case ((t, pp), j) =>
      s"  JOIN tok t$j ON t$j.doi = t0.doi AND t$j.pos = t0.pos + ${pp - base} AND t$j.term = '$t'"
    }.mkString("\n")
    val phraseTerms = phraseOccs.map { case (t, _) => s"('$t')" }.mkString(", ")
    s"""WITH src0 AS (SELECT DOI AS doi, title FROM (${fixtureSrc()})),
       |src AS (SELECT doi, title FROM src0
       |        WHERE len(list_filter(title, t -> t IS NOT NULL AND t <> '')) > 0),
       |vals AS (SELECT doi, v, string_split(lower(el), ' ') AS toks FROM
       |          (SELECT doi, unnest(title) AS el,
       |                  unnest(range(len(title))) AS v FROM src) u),
       |offs AS (SELECT doi, v, toks,
       |    coalesce(sum(len(toks) + $gap) OVER (PARTITION BY doi ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
       |  FROM vals),
       |tok0 AS (SELECT doi, off + unnest(range(len(toks))) AS pos,
       |                unnest(toks) AS term FROM offs),
       |tok AS (SELECT doi, pos, term FROM tok0
       |        WHERE term <> '' AND term NOT IN ($stopIn)),
       |tf AS (SELECT doi, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
       |dft AS (SELECT term, count(DISTINCT doi)::BIGINT AS df FROM tok GROUP BY term),
       |dl AS (SELECT s.doi, count(t.term)::BIGINT AS dl
       |       FROM src s LEFT JOIN tok t USING (doi) GROUP BY s.doi),
       |stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
       |must_leg AS (
       |  SELECT tf.doi, ${Oracle.bm25Expr} AS c FROM tf
       |  JOIN dft ON dft.term = tf.term
       |  JOIN dl ON dl.doi = tf.doi CROSS JOIN stats s
       |  WHERE tf.term = 'record'),
       |should_leg AS (
       |  SELECT tf.doi, ${Oracle.bm25Expr} AS c FROM tf
       |  JOIN dft ON dft.term = tf.term
       |  JOIN dl ON dl.doi = tf.doi CROSS JOIN stats s
       |  WHERE tf.term = '42'),
       |ph_t(term) AS (VALUES $phraseTerms),
       |ph_sidf AS (
       |  SELECT sum(ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))) AS sidf
       |  FROM ph_t q JOIN dft ON dft.term = q.term CROSS JOIN stats s),
       |ph_occ AS (SELECT t0.doi, t0.pos FROM tok t0
       |$phraseJoins
       |  WHERE t0.term = '${phraseOccs(0)._1}'),
       |ph_pf AS (SELECT doi, count(*)::BIGINT AS pf FROM ph_occ GROUP BY doi),
       |ph_leg AS (SELECT pf.doi,
       |    si.sidf * (pf.pf / (pf.pf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl))) AS c
       |  FROM ph_pf pf JOIN dl ON dl.doi = pf.doi
       |  CROSS JOIN stats s CROSS JOIN ph_sidf si),
       |excluded AS (SELECT DISTINCT doi FROM tok WHERE term = '999'),
       |scored AS (
       |  SELECT m.doi,
       |      m.c + coalesce(sh.c, 0.0) + coalesce(ph.c, 0.0) AS score
       |  FROM must_leg m
       |  LEFT JOIN should_leg sh ON sh.doi = m.doi
       |  LEFT JOIN ph_leg ph ON ph.doi = m.doi
       |  WHERE m.doi NOT IN (SELECT doi FROM excluded)),
       |ranked AS (
       |  SELECT doi, CAST(round(score * 1000000.0) AS BIGINT) AS score_x6,
       |    row_number() OVER (ORDER BY CAST(round(score * 1000000.0) AS BIGINT) DESC,
       |                       doi ASC) AS rnk
       |  FROM scored)
       |SELECT rnk, doi, score_x6 FROM ranked WHERE rnk <= $K ORDER BY rnk""".stripMargin
  }

  /** Suggester replay: Damerau candidates over the title dictionary for
    * inputs ABSENT from it, ranked (distance, df desc, term asc). */
  def fieldSuggestSql: String = {
    val stopIn = Analyzer.EnglishStopSorted.map(s => s"'$s'").mkString(", ")
    val inputs = Analyzer.analyzeStop(SuggestText).distinct.sorted
      .map(t => s"('$t', ${graft.query.Fuzzy.autoEdits(t)})").mkString(", ")
    s"""WITH src0 AS (SELECT DOI AS doi, title FROM (${fixtureSrc()})),
       |src AS (SELECT doi, title FROM src0
       |        WHERE len(list_filter(title, t -> t IS NOT NULL AND t <> '')) > 0),
       |el AS (SELECT doi, unnest(title) AS el FROM src),
       |tok AS (SELECT doi, t AS term FROM
       |          (SELECT doi, unnest(string_split(lower(el), ' ')) AS t FROM el)
       |        WHERE t <> '' AND t NOT IN ($stopIn)),
       |dft AS (SELECT term, count(DISTINCT doi)::BIGINT AS df FROM tok GROUP BY term),
       |inputs(input, maxe) AS (VALUES $inputs),
       |missing AS (SELECT i.input, i.maxe FROM inputs i
       |            LEFT JOIN dft d ON d.term = i.input WHERE d.term IS NULL),
       |cand AS (SELECT m.input, d.term AS suggestion, d.df,
       |           damerau_levenshtein(m.input, d.term)::BIGINT AS distance
       |         FROM missing m JOIN dft d
       |           ON damerau_levenshtein(m.input, d.term) <= m.maxe),
       |ranked AS (SELECT input, suggestion, df, distance,
       |    row_number() OVER (PARTITION BY input
       |      ORDER BY distance ASC, df DESC, suggestion ASC)::BIGINT AS rnk
       |  FROM cand)
       |SELECT input, rnk, suggestion, df, distance FROM ranked
       |WHERE rnk <= $SuggestSize ORDER BY input, rnk""".stripMargin
  }

  /** Collapse replay: per-volume leader of the title-match score list,
    * then the global top-k of leaders. */
  def fieldCollapseSql: String = {
    val stopIn = Analyzer.EnglishStopSorted.map(s => s"'$s'").mkString(", ")
    val qvals = Analyzer.analyzeStop(CollapseText)
      .groupBy(identity).view.mapValues(_.length)
      .toSeq.sortBy(_._1)
      .map { case (t, w) => s"('$t', $w)" }.mkString(", ")
    s"""WITH src0 AS (SELECT DOI AS doi, title, coalesce(volume, '') AS vol
       |  FROM (${fixtureSrc(",\n    'volume':'VARCHAR'")})),
       |src AS (SELECT doi, title FROM src0
       |        WHERE len(list_filter(title, t -> t IS NOT NULL AND t <> '')) > 0),
       |el AS (SELECT doi, unnest(title) AS el FROM src),
       |tok AS (SELECT doi, t AS term FROM
       |          (SELECT doi, unnest(string_split(lower(el), ' ')) AS t FROM el)
       |        WHERE t <> '' AND t NOT IN ($stopIn)),
       |tf AS (SELECT doi, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
       |dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
       |dl AS (SELECT s.doi, count(t.term)::BIGINT AS dl
       |       FROM src s LEFT JOIN tok t USING (doi) GROUP BY s.doi),
       |stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
       |q(term, w) AS (VALUES $qvals),
       |scored AS (
       |  SELECT tf.doi, CAST(round(sum(q.w * ${Oracle.bm25Expr}) * 1000000.0) AS BIGINT) AS score_x6
       |  FROM q
       |  JOIN tf ON tf.term = q.term
       |  JOIN dft ON dft.term = q.term
       |  JOIN dl ON dl.doi = tf.doi
       |  CROSS JOIN stats s
       |  GROUP BY tf.doi),
       |leaders AS (SELECT s.doi, v.vol AS collapse_value, s.score_x6,
       |    row_number() OVER (PARTITION BY v.vol
       |      ORDER BY s.score_x6 DESC, s.doi ASC) AS grn
       |  FROM scored s JOIN src0 v USING (doi) WHERE v.vol <> ''),
       |ranked AS (SELECT doi, collapse_value, score_x6,
       |    row_number() OVER (ORDER BY score_x6 DESC, doi ASC)::BIGINT AS rnk
       |  FROM leaders WHERE grn = 1)
       |SELECT rnk, doi, collapse_value, score_x6 FROM ranked
       |WHERE rnk <= $K ORDER BY rnk""".stripMargin
  }

  /** Highlight replay: the top-k of each query from the title BM25
    * machinery, fragments re-built by wrapping matched tokens per stored
    * value, only matching values kept. */
  def fieldHighlightSql: String = {
    val stopIn = Analyzer.EnglishStopSorted.map(s => s"'$s'").mkString(", ")
    val qvals = HighlightQueries.flatMap { case (qid, q) =>
      Analyzer.analyzeStop(q).map(t => s"($qid, '$t')")
    }.mkString(", ")
    val fragBlocks = HighlightQueries.map { case (qid, q) =>
      val terms = Analyzer.analyzeStop(q).distinct
        .map(t => s"'$t'").mkString(", ")
      s"""q${qid}_frag AS (
         |  SELECT r.qid, r.rnk, r.doi,
         |    array_to_string(list_transform(string_split(v.el, ' '),
         |      t -> CASE WHEN lower(t) IN ($terms)
         |           THEN '<em>' || t || '</em>' ELSE t END), ' ') AS fragment
         |  FROM ranked r JOIN el v ON v.doi = r.doi
         |  WHERE r.qid = $qid)""".stripMargin
    }
    val fragUnion = HighlightQueries.map { case (qid, _) =>
      s"SELECT * FROM q${qid}_frag" }.mkString(" UNION ALL ")
    s"""WITH src0 AS (SELECT DOI AS doi, title FROM (${fixtureSrc()})),
       |src AS (SELECT doi, title FROM src0
       |        WHERE len(list_filter(title, t -> t IS NOT NULL AND t <> '')) > 0),
       |el AS (SELECT doi, unnest(title) AS el FROM src),
       |tok AS (SELECT doi, t AS term FROM
       |          (SELECT doi, unnest(string_split(lower(el), ' ')) AS t FROM el)
       |        WHERE t <> '' AND t NOT IN ($stopIn)),
       |tf AS (SELECT doi, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
       |dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
       |dl AS (SELECT s.doi, count(t.term)::BIGINT AS dl
       |       FROM src s LEFT JOIN tok t USING (doi) GROUP BY s.doi),
       |stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
       |qterms(qid, term) AS (VALUES $qvals),
       |scored AS (
       |  SELECT q.qid, tf.doi, sum(${Oracle.bm25Expr}) AS score
       |  FROM qterms q
       |  JOIN tf ON tf.term = q.term
       |  JOIN dft ON dft.term = q.term
       |  JOIN dl ON dl.doi = tf.doi
       |  CROSS JOIN stats s
       |  GROUP BY q.qid, tf.doi),
       |ranked0 AS (
       |  SELECT qid, doi,
       |         row_number() OVER (PARTITION BY qid
       |           ORDER BY CAST(round(score * 1000000.0) AS BIGINT) DESC, doi ASC) AS rnk
       |  FROM scored),
       |ranked AS (SELECT CAST(qid AS BIGINT) AS qid, CAST(rnk AS BIGINT) AS rnk, doi
       |           FROM ranked0 WHERE rnk <= $HighlightK),
       |${fragBlocks.mkString(",\n")},
       |frags AS ($fragUnion)
       |SELECT qid, rnk, doi, fragment FROM frags
       |WHERE fragment LIKE '%<em>%' ORDER BY qid, rnk, fragment""".stripMargin
  }

  /** Rescore replay: base scores cut to the window by the deterministic
    * ordering, phrase contributions left-joined, the engine's exact
    * combine (qw·base + rw·coalesce(phrase, 0)), re-ranked, top-k. */
  def fieldRescoreSql: String = {
    val stopIn = Analyzer.EnglishStopSorted.map(s => s"'$s'").mkString(", ")
    val gap = Analyzer.PositionIncrementGap
    val qvals = Analyzer.analyzeStop(RescoreBase)
      .groupBy(identity).view.mapValues(_.length)
      .toSeq.sortBy(_._1)
      .map { case (t, w) => s"('$t', $w)" }.mkString(", ")
    val occs = Analyzer.analyzeChainPos(Analyzer.TextStop, RescorePhrase)
    val base0 = occs(0)._2
    val phraseJoins = occs.zipWithIndex.drop(1).map { case ((t, p), j) =>
      s"  JOIN tok t$j ON t$j.doi = t0.doi AND t$j.pos = t0.pos + ${p - base0} AND t$j.term = '$t'"
    }.mkString("\n")
    val phraseTerms = occs.map { case (t, _) => s"('$t')" }.mkString(", ")
    s"""WITH src0 AS (SELECT DOI AS doi, title FROM (${fixtureSrc()})),
       |src AS (SELECT doi, title FROM src0
       |        WHERE len(list_filter(title, t -> t IS NOT NULL AND t <> '')) > 0),
       |vals AS (SELECT doi, v, string_split(lower(el), ' ') AS toks FROM
       |          (SELECT doi, unnest(title) AS el,
       |                  unnest(range(len(title))) AS v FROM src) u),
       |offs AS (SELECT doi, v, toks,
       |    coalesce(sum(len(toks) + $gap) OVER (PARTITION BY doi ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
       |  FROM vals),
       |tok0 AS (SELECT doi, off + unnest(range(len(toks))) AS pos,
       |                unnest(toks) AS term FROM offs),
       |tok AS (SELECT doi, pos, term FROM tok0
       |        WHERE term <> '' AND term NOT IN ($stopIn)),
       |tf AS (SELECT doi, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
       |dft AS (SELECT term, count(DISTINCT doi)::BIGINT AS df FROM tok GROUP BY term),
       |dl AS (SELECT s.doi, count(t.term)::BIGINT AS dl
       |       FROM src s LEFT JOIN tok t USING (doi) GROUP BY s.doi),
       |stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
       |q(term, w) AS (VALUES $qvals),
       |base AS (
       |  SELECT tf.doi, sum(q.w * ${Oracle.bm25Expr}) AS base_score
       |  FROM q
       |  JOIN tf ON tf.term = q.term
       |  JOIN dft ON dft.term = q.term
       |  JOIN dl ON dl.doi = tf.doi
       |  CROSS JOIN stats s
       |  GROUP BY tf.doi),
       |windowed AS (SELECT doi, base_score FROM (
       |    SELECT doi, base_score, row_number() OVER (
       |      ORDER BY CAST(round(base_score * 1000000.0) AS BIGINT) DESC, doi ASC) AS wrn
       |    FROM base) WHERE wrn <= $RescoreWindow),
       |ph_t(term) AS (VALUES $phraseTerms),
       |ph_sidf AS (
       |  SELECT sum(ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))) AS sidf
       |  FROM ph_t q JOIN dft ON dft.term = q.term CROSS JOIN stats s),
       |ph_occ AS (SELECT t0.doi, t0.pos FROM tok t0
       |$phraseJoins
       |  WHERE t0.term = '${occs(0)._1}'),
       |ph_pf AS (SELECT doi, count(*)::BIGINT AS pf FROM ph_occ GROUP BY doi),
       |ph AS (SELECT pf.doi,
       |    si.sidf * (pf.pf / (pf.pf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl))) AS phrase_score
       |  FROM ph_pf pf JOIN dl ON dl.doi = pf.doi
       |  CROSS JOIN stats s CROSS JOIN ph_sidf si),
       |combined AS (SELECT w.doi,
       |    CAST(round((w.base_score * $RescoreQw + coalesce(ph.phrase_score, 0.0) * $RescoreRw) * 1000000.0) AS BIGINT) AS score_x6
       |  FROM windowed w LEFT JOIN ph ON ph.doi = w.doi),
       |ranked AS (SELECT doi, score_x6,
       |    row_number() OVER (ORDER BY score_x6 DESC, doi ASC)::BIGINT AS rnk
       |  FROM combined)
       |SELECT rnk, doi, score_x6 FROM ranked WHERE rnk <= $K ORDER BY rnk""".stripMargin
  }

  /** search_after replay: pages 1 and 2 are absolute ranks 1..3 and 4..6
    * of the match's full ordering, page-2 rnk restarting at 1 (ES returns
    * no absolute ranks for cursor pages). */
  def fieldSearchAfterSql: String = pagedRankSql(2)

  /** scroll replay: the same paging law over 3 pages — a scroll IS
    * repeated search_after against one pinned snapshot, so the oracle is
    * the absolute ranking sliced page by page. */
  def fieldScrollSql: String = pagedRankSql(ScrollPages)

  private def pagedRankSql(nPages: Int): String = {
    val stopIn = Analyzer.EnglishStopSorted.map(s => s"'$s'").mkString(", ")
    val qvals = Analyzer.analyzeStop(SearchAfterText)
      .groupBy(identity).view.mapValues(_.length)
      .toSeq.sortBy(_._1)
      .map { case (t, w) => s"('$t', $w)" }.mkString(", ")
    val p = SearchAfterPage
    s"""WITH src0 AS (SELECT DOI AS doi, title FROM (${fixtureSrc()})),
       |src AS (SELECT doi, title FROM src0
       |        WHERE len(list_filter(title, t -> t IS NOT NULL AND t <> '')) > 0),
       |el AS (SELECT doi, unnest(title) AS el FROM src),
       |tok AS (SELECT doi, t AS term FROM
       |          (SELECT doi, unnest(string_split(lower(el), ' ')) AS t FROM el)
       |        WHERE t <> '' AND t NOT IN ($stopIn)),
       |tf AS (SELECT doi, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
       |dft AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
       |dl AS (SELECT s.doi, count(t.term)::BIGINT AS dl
       |       FROM src s LEFT JOIN tok t USING (doi) GROUP BY s.doi),
       |stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
       |q(term, w) AS (VALUES $qvals),
       |scored AS (
       |  SELECT tf.doi, sum(q.w * ${Oracle.bm25Expr}) AS score
       |  FROM q
       |  JOIN tf ON tf.term = q.term
       |  JOIN dft ON dft.term = q.term
       |  JOIN dl ON dl.doi = tf.doi
       |  CROSS JOIN stats s
       |  GROUP BY tf.doi),
       |ranked AS (
       |  SELECT doi, CAST(round(score * 1000000.0) AS BIGINT) AS score_x6,
       |         row_number() OVER (ORDER BY CAST(round(score * 1000000.0) AS BIGINT) DESC,
       |                            doi ASC) AS arnk
       |  FROM scored)
       |SELECT CAST(((arnk - 1) // $p) + 1 AS BIGINT) AS page,
       |       CAST(((arnk - 1) % $p) + 1 AS BIGINT) AS rnk,
       |       doi, score_x6
       |FROM ranked WHERE arnk <= ${nPages * p} ORDER BY page, rnk""".stripMargin
  }

  /** significant_terms replay: JLH with the engine's exact
    * parenthesization — (fgPct − bgPct) · (fgPct / bgPct), fg = the year
    * cohort, bg = docs with a non-empty volume (the sub-corpus rule). */
  def fieldSigTermsSql: String =
    s"""WITH src AS (SELECT DOI AS doi,
       |    CAST((${Oracle.yearCase("")}) AS VARCHAR) AS y,
       |    coalesce(volume, '') AS vol
       |  FROM (SELECT * FROM read_json('${Oracle.fixturesDir}/ndjson_plain.ndjson',
       |    format='newline_delimited', columns={'DOI':'VARCHAR','title':'VARCHAR[]',
       |    'volume':'VARCHAR'$dateCols}))),
       |fg AS (SELECT doi FROM src WHERE y = '$SigTermsYear'),
       |fgt AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM fg),
       |bgt AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM src WHERE vol <> ''),
       |fgdf AS (SELECT vol AS term, count(*)::BIGINT AS fg_df
       |         FROM src JOIN fg USING (doi) WHERE vol <> '' GROUP BY vol),
       |bgdf AS (SELECT vol AS term, count(*)::BIGINT AS bg_df
       |         FROM src WHERE vol <> '' GROUP BY vol),
       |scored AS (SELECT f.term, f.fg_df, b.bg_df,
       |    CAST(round(((CAST(f.fg_df AS DOUBLE)/fgt.t - CAST(b.bg_df AS DOUBLE)/bgt.t)
       |      * ((CAST(f.fg_df AS DOUBLE)/fgt.t) / (CAST(b.bg_df AS DOUBLE)/bgt.t))) * 1000000.0) AS BIGINT) AS score_x6
       |  FROM fgdf f JOIN bgdf b USING (term) CROSS JOIN fgt CROSS JOIN bgt)
       |SELECT term, fg_df, bg_df, score_x6 FROM scored
       |ORDER BY score_x6 DESC, term ASC LIMIT 10""".stripMargin

  /** Histogram replay: floor-division buckets in integer arithmetic
    * (x − Euclidean-mod, the engine's exact formulation — no doubles).
    * Docs without a parseable date are excluded on BOTH sides (ES
    * histogram skips docs missing the field) — the `y IS NOT NULL`
    * filter pins that semantics rather than relying on every fixture
    * doc having a date. */
  def fieldAggHistSql: String =
    s"""WITH src AS (${fixtureSrc(dateCols)}),
       |y0 AS (SELECT CAST((${Oracle.yearCase("")}) AS BIGINT) AS y FROM src),
       |y AS (SELECT y FROM y0 WHERE y IS NOT NULL)
       |SELECT y - ((y % $HistInterval) + $HistInterval) % $HistInterval AS bucket,
       |       count(*)::BIGINT AS doc_count
       |FROM y GROUP BY 1 ORDER BY 1""".stripMargin

  /** Stats-agg replay: value-weighted aggregates over the year values;
    * avg micro-rounded through the same double division. */
  def fieldAggStatsSql: String =
    s"""WITH src AS (${fixtureSrc(dateCols)}),
       |y0 AS (SELECT CAST((${Oracle.yearCase("")}) AS BIGINT) AS y FROM src),
       |y AS (SELECT y FROM y0 WHERE y IS NOT NULL)
       |SELECT count(*)::BIGINT AS value_count,
       |       min(y)::BIGINT AS min_value,
       |       max(y)::BIGINT AS max_value,
       |       sum(y)::BIGINT AS sum_value,
       |       CAST(round((CAST(sum(y) AS DOUBLE) / count(*)) * 1000000.0) AS BIGINT) AS avg_x6
       |FROM y""".stripMargin

  /** terms+cardinality replay: per year term (keyword-fold of digits =
    * identity), doc count + distinct volume values, ES tie-break. */
  /** terms+stats sub-agg replay: per-year buckets with exact integer
    * count/min/max/sum over volume and the single-division avg
    * micro-rounded; unparseable/missing metric values drop on both
    * engines (TRY_CAST ≡ the engine's cast+isNotNull). */
  def fieldTermsStatsSql: String =
    s"""WITH src AS (SELECT CAST((${Oracle.yearCase("")}) AS VARCHAR) AS term,
       |    TRY_CAST(nullif(coalesce(volume, ''), '') AS BIGINT) AS m
       |  FROM (SELECT * FROM read_json('${Oracle.fixturesDir}/ndjson_plain.ndjson',
       |    format='newline_delimited', columns={'DOI':'VARCHAR','title':'VARCHAR[]',
       |    'volume':'VARCHAR'$dateCols})))
       |SELECT term, count(*)::BIGINT AS doc_count,
       |       count(m)::BIGINT AS m_count,
       |       min(m) AS m_min, max(m) AS m_max,
       |       CAST(sum(m) AS BIGINT) AS m_sum,
       |       CAST(round(avg(m) * 1000000.0) AS BIGINT) AS m_avg_x6
       |FROM src
       |GROUP BY term ORDER BY doc_count DESC, term ASC LIMIT 10""".stripMargin

  /** missing-agg replay: docs whose field renders to zero non-empty values
    * under the mapping's source expression — the exists complement. */
  def fieldMissingSql: String =
    s"""WITH src AS (
       |  SELECT * FROM read_json('${Oracle.fixturesDir}/ndjson_plain.ndjson',
       |    format='newline_delimited', columns={'DOI':'VARCHAR',
       |    'volume':'VARCHAR','short-container-title':'VARCHAR[]'}))
       |SELECT 'abbreviated_journal' AS field,
       |  count(*) FILTER (WHERE len(list_filter(coalesce("short-container-title", []),
       |    t -> t IS NOT NULL AND t <> '')) = 0)::BIGINT AS doc_count
       |FROM src
       |UNION ALL
       |SELECT 'volume' AS field,
       |  count(*) FILTER (WHERE coalesce(volume, '') = '')::BIGINT AS doc_count
       |FROM src
       |ORDER BY field""".stripMargin

  /** filter-agg replay: the 1997 cohort's volume stats, one row; the same
    * exact-integer/micro-rounded-avg law as the terms+stats oracle. */
  def fieldFilterAggSql: String =
    s"""WITH src AS (SELECT CAST((${Oracle.yearCase("")}) AS VARCHAR) AS y,
       |    TRY_CAST(nullif(coalesce(volume, ''), '') AS BIGINT) AS m
       |  FROM (SELECT * FROM read_json('${Oracle.fixturesDir}/ndjson_plain.ndjson',
       |    format='newline_delimited', columns={'DOI':'VARCHAR','title':'VARCHAR[]',
       |    'volume':'VARCHAR'$dateCols}))),
       |f AS (SELECT m FROM src WHERE y = '1997')
       |SELECT count(*)::BIGINT AS doc_count,
       |       count(m)::BIGINT AS m_count,
       |       min(m) AS m_min, max(m) AS m_max,
       |       CAST(sum(m) AS BIGINT) AS m_sum,
       |       CAST(round(avg(m) * 1000000.0) AS BIGINT) AS m_avg_x6
       |FROM f""".stripMargin

  /** composite replay: (year, volume) tuples in composite-key order past
    * the cursor — the lexicographic after-predicate written identically. */
  def fieldCompositeSql: String = {
    val Seq(a1, a2) = CompositeAfter
    s"""WITH src AS (SELECT CAST((${Oracle.yearCase("")}) AS VARCHAR) AS y,
       |    coalesce(volume, '') AS v
       |  FROM (SELECT * FROM read_json('${Oracle.fixturesDir}/ndjson_plain.ndjson',
       |    format='newline_delimited', columns={'DOI':'VARCHAR','title':'VARCHAR[]',
       |    'volume':'VARCHAR'$dateCols}))),
       |rows AS (SELECT y, v FROM src WHERE y <> '' AND v <> ''),
       |agg AS (SELECT y AS k_year, v AS k_volume, count(*)::BIGINT AS doc_count
       |        FROM rows GROUP BY 1, 2),
       |paged AS (SELECT * FROM agg
       |          WHERE k_year > '$a1' OR (k_year = '$a1' AND k_volume > '$a2'))
       |SELECT k_year, k_volume, doc_count FROM paged
       |ORDER BY k_year, k_volume LIMIT 10""".stripMargin
  }

  def fieldAggCardSql: String =
    s"""WITH src AS (SELECT CAST((${Oracle.yearCase("")}) AS VARCHAR) AS term,
       |    coalesce(volume, '') AS vol
       |  FROM (SELECT * FROM read_json('${Oracle.fixturesDir}/ndjson_plain.ndjson',
       |    format='newline_delimited', columns={'DOI':'VARCHAR','title':'VARCHAR[]',
       |    'volume':'VARCHAR'$dateCols})))
       |SELECT term, count(*)::BIGINT AS doc_count,
       |       count(DISTINCT CASE WHEN vol <> '' THEN vol END)::BIGINT AS cardinality
       |FROM src
       |GROUP BY term ORDER BY doc_count DESC, term ASC LIMIT 10""".stripMargin
}
