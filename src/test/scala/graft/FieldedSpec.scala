package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.Analyzer
import graft.harness.FieldedQueries
import graft.index.{FieldedIndex, IndexTables, PostingsBuilder}
import graft.index.FieldedIndex.Query
import graft.io.TableIO
import graft.query.Searcher

/** Per-field indexing (reference elastic/settings.go:87-138): per-field
  * stats, chain selection per field, ES array semantics, empty-field
  * sub-indexes, key LWW, and fielded query correctness over the fixture. */
class FieldedSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val idx = FieldedQueries.ensureFieldedIndex(spark)
  private def spec(f: String) = FieldedIndex.CrossrefMapping.find(_.field == f).get
  private def served(q: Query, k: Int = 10) = FieldedIndex.query(spark, idx, q, k)
  private def matches(legs: Seq[(FieldedIndex.FieldSpec, String)]): Seq[Query] =
    legs.map { case (s, t) => Query.Match(s, t) }

  test("every mapped SimplifiedPublication field builds a complete sub-index") {
    for (f <- Seq("DOI", "title", "journal", "abbreviated_journal", "volume",
        "issue", "year", "first_page", "bibliographic"))
      assert(PostingsBuilder.isComplete(FieldedIndex.fieldDir(idx, f)),
        s"field $f missing")
    // the mapping's never-populated fields are simply absent
    assert(!new java.io.File(FieldedIndex.fieldDir(idx, "author")).exists())
  }

  test("per-field BM25 stats: the title field's own N/avgdl/df, not the doc's") {
    // every fixture title is ["Record $i title", "second title $i"]:
    // 6 tokens/doc, 'title' tf=2 in every doc
    val stats = IndexTables.corpusStats(
      new TableIO(FieldedIndex.fieldDir(idx, "title")))
    assert(stats.n_docs === 1000L)
    assert(stats.avgdl === 6.0)
    val df = spark.read.parquet(
        s"${FieldedIndex.fieldDir(idx, "title")}/term_stats")
      .where(col("term") === "title").head().getAs[Long]("df")
    assert(df === 1000L)
  }

  test("keyword chain: the whole DOI is one lowercased token (ES term query)") {
    val h = Searcher.open(spark, FieldedIndex.fieldDir(idx, "DOI"))
    try {
      // analyzer lowers the query; the doc token was lowered at index time
      val hit = Searcher.termDocs(h, Seq(Analyzer.analyzeKeyword("10.1/ND.5")))
      assert(hit.count() === 1L)
      // sub-token of a DOI matches NOTHING (keyword ≠ text tokenization)
      assert(Searcher.termDocs(h, Seq("nd.5")).count() === 0L)
    } finally h.close()
  }

  test("folding-keyword year field: term query returns the year's cohort") {
    // fixture year = 1990 + i%30 → 1997 ⇔ i ≡ 7 (mod 30) → 34 docs
    val rows = FieldedQueries.fieldYear(spark, "")
    assert(rows.count() === 34L)
  }

  test("empty-valued field builds an empty-but-servable sub-index") {
    // the fixture has no short-container-title → abbreviated_journal = []
    val d = FieldedIndex.fieldDir(idx, "abbreviated_journal")
    assert(PostingsBuilder.isComplete(d))
    val h = Searcher.open(spark, d)
    try assert(Searcher.termDocs(h, Seq("journal")).count() === 0L)
    finally h.close()
  }

  test("fielded BM25: discriminative term tops its doc; ranks tie-break by key order") {
    val rows = FieldedQueries.bm25Title(spark, "").collect()
    val top = rows.filter(_.getAs[Long]("rnk") == 1L)
      .map(r => r.getAs[Long]("qid") -> r.getAs[String]("doi")).toMap
    assert(top === Map(1L -> "10.1/nd.42", 2L -> "10.1/nd.7", 3L -> "10.1/nd.999"))
    // the tied tail ranks ascend in doi order (doc_id order == doi order)
    val q1Tail = rows.filter(r => r.getAs[Long]("qid") == 1L && r.getAs[Long]("rnk") > 1L)
      .sortBy(_.getAs[Long]("rnk")).map(_.getAs[String]("doi")).toSeq
    assert(q1Tail === q1Tail.sorted)
  }

  test("ES array semantics + key LWW on a synthetic multi-valued corpus") {
    import spark.implicits._
    val dir = s"${sys.props("user.dir")}/target/test-idx/fielded-multi"
    new TableIO(dir).deleteAll()
    val docs = Seq(
      // key k1 appears twice: the LATER row must win (ES overwrite)
      ("k1", Seq("Old", "stale"), "drop me"),
      ("k1", Seq("A", "b", "", "A"), "keep: b C"),
      ("k2", Seq("b"), "the c")
    ).toDF("k", "tags", "body")
    FieldedIndex.build(spark, docs, dir,
      Seq(FieldedIndex.FieldSpec("tags", Analyzer.Keyword),
        FieldedIndex.FieldSpec("body", Analyzer.TextStop)),
      keyCol = "k", PostingsBuilder.Config(shardSize = 16))

    assert(spark.read.parquet(s"$dir/doc_map").count() === 2L)
    // keyword array: one token per non-empty value, lowercased, tf counted
    val tagTerms = spark.read.parquet(
        s"${FieldedIndex.fieldDir(dir, "tags")}/term_stats")
      .collect().map(r => r.getAs[String]("term") -> r.getAs[Long]("df")).toMap
    assert(tagTerms === Map("a" -> 1L, "b" -> 2L))
    assert(!tagTerms.contains("old"), "LWW loser leaked into the index")
    // dl of k1's tags = 3 kept values (empty dropped, dup counted)
    val k1 = spark.read.parquet(s"$dir/doc_map")
      .where(col("k") === "k1").head().getAs[Long]("doc_id")
    val dl = spark.read.parquet(
        s"${FieldedIndex.fieldDir(dir, "tags")}/doc_terms")
      .where(col("doc_id") === k1).head().getAs[Long]("dl")
    assert(dl === 3L)
    // text chain on the other field: stopwords dropped, case folded
    val bodyTerms = spark.read.parquet(
        s"${FieldedIndex.fieldDir(dir, "body")}/term_stats")
      .collect().map(_.getAs[String]("term")).toSet
    assert(bodyTerms === Set("keep", "b", "c"))
  }

  test("fielded oracle queries return the expected shapes") {
    val dois = FieldedQueries.fieldDoi(spark, "").collect().map(_.getString(0))
    assert(dois.toSeq === Seq("10.1/nd.123", "10.1/nd.7", "10.1/nd.999"))
  }

  test("filter+must: top-k is of the FILTERED set, filter context unscored") {
    val rows = FieldedQueries.fieldFiltered(spark, "").collect()
    assert(rows.length === FieldedQueries.K)
    // doc 7 is in the 1997 cohort AND carries the discriminative term
    assert(rows.head.getAs[String]("doi") === "10.1/nd.7")
    // every result is from the 34-doc year-1997 cohort (i ≡ 7 mod 30)
    val dois = rows.map(_.getAs[String]("doi")).toSet
    for (d <- dois) {
      val i = d.stripPrefix("10.1/nd.").toInt
      assert(i % 30 === 7, s"doc outside the filter cohort: $d")
    }
    // a doc that matches the text better than most cohort members but
    // fails the filter (doc 42, year 2002) must NOT appear
    assert(!dois.contains("10.1/nd.42"))
  }

  test("multi-field bool/should: summed per-field BM25 tops the cited doc") {
    val rows = FieldedQueries.fieldMulti(spark, "").collect()
    assert(rows.length === FieldedQueries.K)
    // doc 123 matches all three legs (fam123/123 in bibliographic,
    // year 1993, volume 23) — nothing else comes close
    assert(rows.head.getAs[Long]("rnk") === 1L)
    assert(rows.head.getAs[String]("doi") === "10.1/nd.123")
    // scores strictly ordered, ties by doi
    val xs = rows.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Long]("score_x6"))
    assert(xs.toSeq === xs.sortBy(-_).toSeq)
  }

  test("match_phrase: stopword gaps and value boundaries are ES-exact") {
    import spark.implicits._
    val dir = s"${sys.props("user.dir")}/target/test-idx/phrase"
    new TableIO(dir).deleteAll()
    val body = FieldedIndex.FieldSpec("body", Analyzer.TextStop)
    val docs = Seq(
      ("d1", Seq("united of states")), // stopword leaves a gap
      ("d2", Seq("united states")), // adjacent
      ("d3", Seq("united", "states")), // split across values (gap 100)
      ("d4", Seq("the united states of america and the united states")) // pf=2
    ).toDF("k", "body")
    FieldedIndex.build(spark, docs, dir, Seq(body), "k",
      graft.index.PostingsBuilder.Config(shardSize = 16))
    def hits(q: String): Map[String, Long] =
      FieldedIndex.phraseMatch(spark, dir, body, Seq(1 -> q), 10)
        .join(spark.read.parquet(s"$dir/doc_map"), "doc_id").collect()
        .map(r => r.getAs[String]("k") -> r.getAs[Long]("score_x6")).toMap
    // adjacent phrase: NOT across a dropped stopword (d1) and NOT across a
    // value boundary (d3) — exactly ES's increment semantics
    assert(hits("united states").keySet === Set("d2", "d4"))
    // a phrase CONTAINING the stopword carries the same gap → d1 only
    // (d4's "united states" pairs have no one-position gap)
    assert(hits("united of states").keySet === Set("d1"))
    // phraseFreq feeds the score: d4 aligns twice — its tfNorm uses pf=2
    val h = FieldedIndex.phraseMatch(spark, dir, body, Seq(1 -> "united states"), 10)
      .join(spark.read.parquet(s"$dir/doc_map"), "doc_id").collect()
      .map(r => r.getAs[String]("k") -> r.getAs[Long]("score_x6")).toMap
    assert(h("d4") !== h("d2")) // different dl AND different pf
  }

  /** Build-once proximity corpus shared by the span_near tests. */
  private lazy val spanIdx: String = {
    import spark.implicits._
    val dir = s"${sys.props("user.dir")}/target/test-idx/spannear"
    new TableIO(dir).deleteAll()
    val body = FieldedIndex.FieldSpec("body", Analyzer.TextStop)
    val docs = Seq(
      ("d1", Seq("alpha beta")), // adjacent: slopUsed 0
      ("d2", Seq("alpha x beta")), // one intervening token: slopUsed 1
      ("d3", Seq("beta alpha")), // reversed — in_order never matches
      ("d4", Seq("alpha", "beta")), // across values: slopUsed = gap
      ("d5", Seq("alpha x x x beta")) // slopUsed 3
    ).toDF("k", "body")
    FieldedIndex.build(spark, docs, dir, Seq(body), "k",
      graft.index.PostingsBuilder.Config(shardSize = 16))
    dir
  }

  test("span_near: ordered slop, gap bridging, quantized sloppyFreq") {
    val dir = spanIdx
    val body = FieldedIndex.FieldSpec("body", Analyzer.TextStop)
    def hits(q: String, slop: Int): Map[String, Long] =
      FieldedIndex.spanNear(spark, dir, body, Seq((1, q, slop)), 10)
        .join(spark.read.parquet(s"$dir/doc_map"), "doc_id").collect()
        .map(r => r.getAs[String]("k") -> r.getAs[Long]("score_x6")).toMap
    assert(hits("alpha beta", 0).keySet === Set("d1"))
    assert(hits("alpha beta", 1).keySet === Set("d1", "d2"))
    assert(hits("alpha beta", 3).keySet === Set("d1", "d2", "d5"))
    // the multi-value gap is NOT bridged one slop short of it…
    assert(hits("alpha beta", 99).keySet === Set("d1", "d2", "d5"))
    // …and IS at exactly gap cost; d3 (reversed) never matches in_order
    assert(hits("alpha beta", 100).keySet === Set("d1", "d2", "d4", "d5"))
    // quantized sloppyFreq orders by proximity at equal term sets
    val h3 = hits("alpha beta", 3)
    assert(h3("d1") > h3("d2") && h3("d2") > h3("d5"))
    // slop=0 on a gap-free two-term query ≡ match_phrase, score-identical
    val ph = FieldedIndex.phraseMatch(spark, dir, body,
      Seq(1 -> "alpha beta"), 10)
      .join(spark.read.parquet(s"$dir/doc_map"), "doc_id").collect()
      .map(r => r.getAs[String]("k") -> r.getAs[Long]("score_x6")).toMap
    assert(hits("alpha beta", 0) === ph)
    // single-clause span: freq degrades to exactly tf (matches the match
    // query's per-doc tfNorm input)
    assert(hits("alpha", 0).keySet === Set("d1", "d2", "d3", "d4", "d5"))
  }

  test("span_near unordered: reversed clauses match, ordered stays strict") {
    val dir = spanIdx
    val body = FieldedIndex.FieldSpec("body", Analyzer.TextStop)
    def hits(q: String, slop: Int, inOrder: Boolean): Map[String, Long] =
      FieldedIndex.spanNear(spark, dir, body, Seq((1, q, slop)), 10, inOrder)
        .join(spark.read.parquet(s"$dir/doc_map"), "doc_id").collect()
        .map(r => r.getAs[String]("k") -> r.getAs[Long]("score_x6")).toMap
    // reuses the span_near corpus: d3 = ["beta alpha"] — reversed clauses
    // never match ordered, but match unordered at zero slop
    assert(hits("alpha beta", 0, inOrder = true).keySet === Set("d1"))
    assert(hits("alpha beta", 0, inOrder = false).keySet === Set("d1", "d3"))
    // clause order is irrelevant when unordered
    assert(hits("beta alpha", 1, inOrder = false) ===
      hits("alpha beta", 1, inOrder = false))
    // proximity still bounds: d5 (= alpha x x x beta) needs 3 slop
    assert(!hits("beta alpha", 2, inOrder = false).contains("d5"))
    assert(hits("beta alpha", 3, inOrder = false).contains("d5"))
    // duplicate clauses need DISTINCT occurrences: no doc holds two
    // alphas, so {alpha, alpha} matches nothing at any slop (one
    // occurrence must not satisfy both clauses through a width-1 window)
    assert(hits("alpha alpha", 200, inOrder = false).isEmpty)
  }

  test("regexp refuses uppercase escape classes the analyzer would invert") {
    val d = spec("DOI")
    val e = intercept[IllegalArgumentException] {
      FieldedIndex.regexpQuery(spark, idx, d, """10\.1/nd\.\D+""")
    }
    assert(e.getMessage.contains("uppercase escape"))
    // escaped backslash before an uppercase letter is a literal, not a
    // class — must NOT trip the guard (and matches nothing lowercased)
    assert(FieldedIndex.regexpQuery(spark, idx, d, """x\\D""").count() === 0L)
    // the lowercase classes express the same predicate and stay allowed
    assert(FieldedIndex.regexpQuery(spark, idx, d,
      """10\.1/nd\.\d\d""").count() > 0L)
  }

  test("phrase against a positionless index fails loudly, not wrongly") {
    // the webtext-style body index stores index_options docs/freqs (no
    // positions) — a phrase query must surface the configuration error
    // instead of silently matching nothing or everything
    import spark.implicits._
    val dir = s"${sys.props("user.dir")}/target/test-idx/phrase-nopos"
    new TableIO(dir).deleteAll()
    val docs = Seq((0L, "alpha beta gamma"), (1L, "beta alpha"))
      .toDF("doc_id", "text")
    graft.index.PostingsBuilder.build(spark, docs, dir,
      graft.index.PostingsBuilder.Config(shardSize = 16))
    val h = Searcher.open(spark, dir)
    try {
      val e = intercept[org.apache.spark.SparkException] {
        Searcher.phraseSearch(h, Seq(1 -> "alpha beta"), 10,
          graft.analysis.Analyzer.analyzeChainPos(
            graft.analysis.Analyzer.TextStop, _)).count()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("stores no positions")))
    } finally h.close()
  }

  test("kernel bool paths are rank-identical to their naive decode twins") {
    val legs = FieldedQueries.MultiLegs.map { case (f, t) => (spec(f), t) }
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("rnk"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("score_x6"))).toSeq.sorted
    assert(rows(served(Query.Bool(should = matches(legs)))) ===
      rows(FieldedNaive.multiMatchNaive(spark, idx, legs, 10)))
    assert(rows(served(Query.Bool(
        should = Seq(Query.Match(spec("title"), FieldedQueries.FilteredMatchText)),
        filter = Some(Query.Terms(spec("year"), Seq(FieldedQueries.FilteredYear)))))) ===
      rows(FieldedNaive.filteredMatchNaive(spark, idx,
        spec("title"), FieldedQueries.FilteredMatchText,
        spec("year"), Seq(FieldedQueries.FilteredYear), 10)))
    for (tb <- Seq(0.0, 0.3, 1.0))
      assert(rows(served(Query.DisMax(matches(legs), tb))) ===
        rows(FieldedNaive.disMaxNaive(spark, idx, legs, 10, tb)), s"tb=$tb")
    // boosted legs: kernel == naive twin, boost=1 through the boosted twin
    // equals the unboosted kernel, and the harness boosts actually reorder
    val blegs = FieldedQueries.MultiLegs.zip(FieldedQueries.MultiBoosts)
      .map { case ((f, t), b) => (spec(f), t, b) }
    val boosted = Query.Bool(should = blegs.map { case (s, t, b) =>
      Query.Match(s, t, b) })
    assert(rows(served(boosted)) ===
      rows(FieldedNaive.multiMatchBoostNaive(spark, idx, blegs, 10)))
    val unit = legs.map { case (s, t) => (s, t, 1.0) }
    assert(rows(FieldedNaive.multiMatchBoostNaive(spark, idx, unit, 10)) ===
      rows(served(Query.Bool(should = matches(legs)))))
    assert(rows(served(boosted)).map(_._2) !==
      rows(served(Query.Bool(should = matches(legs)))).map(_._2),
      "harness boosts must change the ranked doc set/order")
    // a zero boost is refused (it would zero bounds yet count for msm)
    intercept[IllegalArgumentException] {
      served(Query.Bool(should = legs.map { case (s, t) =>
        Query.Match(s, t, 0.0) })).collect()
    }
  }

  test("bool-with-phrase: kernel == naive twin; msm counts confirmed phrases only") {
    val mlegs = FieldedQueries.MultiLegs.take(1).map { case (f, t) => (spec(f), t) }
    def bool(phrase: (FieldedIndex.FieldSpec, String), msm: Int) =
      served(Query.Bool(should = matches(mlegs) :+ Query.Phrase(phrase._1, phrase._2),
        minShouldMatch = Some(msm)))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("rnk"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("score_x6"))).toSeq.sorted
    // mass phrase (every doc, pf=1) and selective phrase, both msm values
    for (phrase <- Seq(FieldedQueries.BoolPhraseMass,
                       FieldedQueries.BoolPhraseSelective); msm <- Seq(1, 2)) {
      val plegs = Seq((spec("title"), phrase))
      assert(rows(bool(plegs.head, msm)) ===
        rows(FieldedNaive.boolQueryNaive(spark, idx, mlegs, plegs, 10, msm)),
        s"phrase='$phrase' msm=$msm")
    }
    // cross-value phrase ("title second" is only adjacent across the value
    // boundary): the clause term-CONJUNCTION holds everywhere but positions
    // never confirm — msm=2 must yield nothing, msm=1 must degrade to the
    // match leg alone
    val crossVal = (spec("title"), "title second")
    assert(bool(crossVal, 2).count() === 0L)
    assert(rows(bool(crossVal, 1)) ===
      rows(FieldedNaive.multiMatchNaive(spark, idx, mlegs, 10)))
  }

  test("exists + terms agg: presence set and df ranking on a field-sparse corpus") {
    import spark.implicits._
    val dir = s"${sys.props("user.dir")}/target/test-idx/fielded-exists"
    new TableIO(dir).deleteAll()
    val docs = Seq(
      ("k1", Seq("x", "y"), "body one"),
      ("k2", Seq.empty[String], "body two"),   // tags ABSENT for k2
      ("k3", Seq("y"), ""),                    // body absent for k3
      ("k4", Seq(""), "the of")                // empty value + all-stopword body
    ).toDF("k", "tags", "body")
    val tagsSpec = FieldedIndex.FieldSpec("tags", Analyzer.Keyword)
    val bodySpec = FieldedIndex.FieldSpec("body", Analyzer.TextStop)
    FieldedIndex.build(spark, docs, dir, Seq(tagsSpec, bodySpec),
      keyCol = "k", PostingsBuilder.Config(shardSize = 16))
    val dm = spark.read.parquet(s"$dir/doc_map")
    def keysOf(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.join(dm, "doc_id").select("k").collect().map(_.getString(0)).toSet
    // exists = ≥1 indexed token: k4's empty tag value and all-stopword body
    // index nothing
    assert(keysOf(FieldedIndex.existsQuery(spark, dir, tagsSpec)) ===
      Set("k1", "k3"))
    assert(keysOf(FieldedIndex.existsQuery(spark, dir, bodySpec)) ===
      Set("k1", "k2"))
    // terms agg: df desc, term asc tie-break
    val agg = FieldedIndex.termsAgg(spark, dir, tagsSpec, 10).collect()
      .map(r => (r.getAs[String]("term"), r.getAs[Long]("df"))).toSeq
    assert(agg === Seq(("y", 2L), ("x", 1L)))
  }

  test("fuzzy match: typo expands via Damerau, exact-0 stays exact, cap is deterministic") {
    // "recrod" (AUTO → 2 edits) reaches "record" (one transposition);
    // "42" (2 chars → 0 edits) stays exact — doc 42 carries both, tops
    val hits = FieldedIndex.fuzzyMatch(spark, idx, spec("title"),
      Seq(1 -> "recrod 42"), 10)
      .join(spark.read.parquet(s"$idx/doc_map"), "doc_id")
      .orderBy("rnk").select("doi").collect().map(_.getString(0))
    assert(hits.head === "10.1/nd.42")
    assert(hits.length === 10) // every doc matches via record
    // fuzziness=0 ≡ the plain match path, rank- and score-identical
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rnk"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("score_x6"))).toSeq
    assert(rows(FieldedIndex.fuzzyMatch(spark, idx, spec("title"),
        FieldedQueries.TitleQueries, 10, fuzziness = 0)) ===
      rows(FieldedIndex.searchField(spark, idx, spec("title"),
        FieldedQueries.TitleQueries, 10)))
    // expansion cap: maxExpansions=1 keeps only the closest term (the
    // exact match when present) — "recrod" alone degrades to match "record"
    assert(rows(FieldedIndex.fuzzyMatch(spark, idx, spec("title"),
        Seq(7 -> "record"), 10, maxExpansions = 1)) ===
      rows(FieldedIndex.fuzzyMatch(spark, idx, spec("title"),
        Seq(7 -> "record"), 10, fuzziness = 0)))
  }

  test("bool tree: must/should/filter/must_not grid, kernel == naive twin") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("rnk"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("score_x6"))).toSeq.sorted
    val bibSel = (spec("bibliographic"), "fam123 fam223 fam323")
    val title42 = (spec("title"), "title 42")
    val massPhrase = (spec("title"), "second title")
    // must restricts to the 3 cited docs; should adds the title leg;
    // must_not (year 1993) excludes doc 123 of them
    def terms(t: Option[(FieldedIndex.FieldSpec, Seq[String])]) =
      t.map { case (s, vs) => Query.Terms(s, vs) }
    for (mn <- Seq(None, Some((spec("year"), Seq("1993"))));
         fl <- Seq(None, Some((spec("volume"), Seq("23"))))) {
      val k = served(Query.Bool(must = matches(Seq(bibSel)),
        should = matches(Seq(title42)), filter = terms(fl), mustNot = terms(mn)))
      val nv = FieldedNaive.esBoolNaive(spark, idx, must = Seq(bibSel),
        should = Seq(title42), filter = fl, mustNot = mn, k = 10)
      assert(rows(k) === rows(nv), s"mustNot=$mn filter=$fl")
      assert(k.count() > 0, s"grid cell empty: mustNot=$mn filter=$fl")
    }
    // a must PHRASE clause: required position-confirmed match
    val kp = served(Query.Bool(must = matches(Seq(bibSel)) :+
      Query.Phrase(massPhrase._1, massPhrase._2)))
    val np = FieldedNaive.esBoolNaive(spark, idx, must = Seq(bibSel),
      mustPhrases = Seq(massPhrase), k = 10)
    assert(rows(kp) === rows(np))
    // must phrase that never confirms (cross-value): zero hits even though
    // its term conjunction holds everywhere
    assert(served(Query.Bool(must = matches(Seq(bibSel)) :+
      Query.Phrase(spec("title"), "title second"))).count() === 0L)
    // must_not excludes doc 123 (year 1993) from the must cohort
    val excl = served(Query.Bool(must = matches(Seq(bibSel)),
      mustNot = Some(Query.Terms(spec("year"), Seq("1993")))))
      .join(spark.read.parquet(s"$idx/doc_map"), "doc_id")
      .select("doi").collect().map(_.getString(0)).toSet
    assert(!excl.exists(_.endsWith("nd.123")) && excl.size === 2)
  }

  test("match operator=and: all terms required, score is the ordinary BM25 sum") {
    // "second title 42": OR-match hits every doc; AND-match only doc 42
    val and = served(Query.Match(spec("title"), FieldedQueries.MatchAndQuery,
      and = true))
      .join(spark.read.parquet(s"$idx/doc_map"), "doc_id").collect()
    assert(and.length === 1)
    assert(and.head.getAs[String]("doi") === "10.1/nd.42")
    // identical score to the OR-path for the same doc (the leg split
    // changes only the match requirement)
    val orScore = FieldedIndex.searchField(spark, idx, spec("title"),
      Seq(1 -> FieldedQueries.MatchAndQuery), 10)
      .join(spark.read.parquet(s"$idx/doc_map"), "doc_id")
      .collect().find(_.getAs[String]("doi") == "10.1/nd.42").get
      .getAs[Long]("score_x6")
    assert(and.head.getAs[Long]("score_x6") === orScore)
  }

  test("minimum_should_match=2 excludes single-leg matches however well they score") {
    val msm = FieldedQueries.fieldMsm(spark, "").collect()
    // exactly the pairwise intersections of the three selective legs:
    // bib {123,223,323} ∩/∪ year i≡3(30) ∩/∪ volume i≡23(50)
    val expected = Set(123, 223, 273, 323, 423, 573, 723, 873)
      .map(i => s"10.1/nd.$i")
    assert(msm.map(_.getAs[String]("doi")).toSet === expected)
    // doc 123 tops: it matches all three legs
    assert(msm.minBy(_.getAs[Long]("rnk")).getAs[String]("doi") ===
      "10.1/nd.123")
    // the single-leg year cohort (e.g. doc 933: year 1993 only) scores
    // high under plain bool but is excluded here
    val plain = served(Query.Bool(should = matches(
      FieldedQueries.MsmLegs.map { case (f, t) => (spec(f), t) })), 20)
      .join(spark.read.parquet(s"$idx/doc_map"), "doc_id")
      .collect().map(_.getAs[String]("doi")).toSet
    assert((plain -- expected).nonEmpty, "fixture too weak: msm a no-op")
  }

  test("range expansion: bound grid, exclusive edges, empty interval") {
    val y = spec("year")
    // fixture years 1990..2019; [1993,1995] inclusive
    assert(FieldedIndex.rangeTerms(spark, idx, y,
      gte = Some(1993L), lte = Some(1995L)) === Seq("1993", "1994", "1995"))
    // exclusive both edges
    assert(FieldedIndex.rangeTerms(spark, idx, y,
      gt = Some(1993L), lt = Some(1995L)) === Seq("1994"))
    // open-ended: everything from 2018 up
    assert(FieldedIndex.rangeTerms(spark, idx, y,
      gte = Some(2018L)) === Seq("2018", "2019"))
    // empty interval → empty expansion → zero hits through the bool kernel
    val empty = FieldedIndex.rangeTerms(spark, idx, y,
      gt = Some(2019L))
    assert(empty.isEmpty)
    assert(served(Query.Bool(must = Seq(Query.Match(spec("title"), "record")),
      filter = Some(Query.Terms(y, empty))), 5).count() === 0L)
    // constant-score retrieval: the 3-year cohort (i%30 ∈ {3,4,5}, each
    // remainder < 10 gets 34 docs in 0..999) is 102 docs
    assert(FieldedIndex.rangeQuery(spark, idx, y,
      gte = Some(1993L), lte = Some(1995L)).count() === 102L)
    // max_clause_count: a range expanding past the cap fails LOUDLY
    // (ES too_many_clauses), never an unbounded driver collect — the
    // fixture's 30-year vocabulary trips a cap of 5
    val wide = intercept[IllegalArgumentException] {
      FieldedIndex.rangeTerms(spark, idx, y,
        gte = Some(1990L), lte = Some(2019L), maxClauseCount = 5)
    }
    assert(wide.getMessage.contains("too_many_clauses"))
    // at the cap exactly (5 terms ≤ 5) the expansion still serves
    assert(FieldedIndex.rangeTerms(spark, idx, y,
      gte = Some(1990L), lte = Some(1994L), maxClauseCount = 5).size === 5)
  }

  test("regexp: anchored whole-term match, alternation, quantifier, prefix prune") {
    val d = spec("DOI")
    // implicit anchoring: a mid-term match is NOT a hit (ES semantics) —
    // "nd.5" occurs inside many DOIs but matches no whole term
    assert(FieldedIndex.regexpQuery(spark, idx, d, "nd.5").count() === 0L)
    // alternation inside the anchors via the non-capturing wrap
    val alt = FieldedIndex.regexpQuery(spark, idx, d, "10.1/nd.(7|77|777)")
      .join(spark.read.parquet(s"$idx/doc_map"), "doc_id")
      .collect().map(_.getAs[String]("doi")).sorted.toSeq
    assert(alt === Seq("10.1/nd.7", "10.1/nd.77", "10.1/nd.777"))
    // bounded repeat
    assert(FieldedIndex.regexpQuery(spark, idx, d, "10.1/nd.9{2,3}")
      .count() === 2L) // 99, 999
    // char class == the wildcard '?' cohort
    assert(FieldedIndex.regexpQuery(spark, idx, d, "10\\.1/nd\\.1[0-9]3")
      .count() === 10L) // 103,113,…,193
    // literal-prefix soundness: never longer than every match allows
    assert(FieldedIndex.regexLiteralPrefix("abc.*") === "abc")
    assert(FieldedIndex.regexLiteralPrefix("ab|cd") === "") // alternation
    assert(FieldedIndex.regexLiteralPrefix("ab*c") === "a") // b optional
    assert(FieldedIndex.regexLiteralPrefix("ab+c") === "ab") // b mandatory
    assert(FieldedIndex.regexLiteralPrefix("ab{0,2}") === "a")
    assert(FieldedIndex.regexLiteralPrefix("\\d+") === "") // escape stops
  }

  test("prefix/wildcard: cap is term-ordered, * and ? translate, miss is empty") {
    val d = spec("DOI")
    // 10.1/nd.99, .990 .. .999 — 11 terms; cap keeps term order
    val all = FieldedIndex.prefixTerms(spark, idx, d, "10.1/ND.99")
    assert(all.map(_._1) === ("10.1/nd.99" +: (0 to 9).map(i => s"10.1/nd.99$i")))
    assert(FieldedIndex.prefixTerms(spark, idx, d, "10.1/ND.99", max = 3)
      .map(_._1) === Seq("10.1/nd.99", "10.1/nd.990", "10.1/nd.991"))
    assert(FieldedIndex.prefixTerms(spark, idx, d, "10.1/zz").isEmpty)
    // '?' = one char; '.' in the DOI is literal, not regex-any
    assert(FieldedIndex.wildcardQuery(spark, idx, d, "10.1/nd.1?3")
      .count() === 10L)
    assert(FieldedIndex.wildcardQuery(spark, idx, d, "10.1/ndx1?3")
      .count() === 0L, "an unescaped '.' would make ndx match nd.")
    // '*' run: same doc set as the prefix query
    assert(FieldedIndex.wildcardQuery(spark, idx, d, "10.1/nd.99*")
      .count() === 11L)
  }

  test("match_phrase_prefix: expansion union, cross-value miss, cap determinism") {
    val t = spec("title")
    // "titl" expands to exactly {title} → degenerates to the exact phrase
    val viaPrefix = FieldedIndex.matchPhrasePrefix(spark, idx, t,
      Seq(1 -> "second titl"), 5).collect()
    val exact = FieldedIndex.phraseMatch(spark, idx, t,
      Seq(1 -> "second title"), 5).collect()
    assert(viaPrefix.map(r => (r.getLong(2), r.getLong(3))).toSeq ===
      exact.map(r => (r.getLong(2), r.getLong(3))).toSeq)
    // cross-value adjacency must NOT match: value boundary gap (ES
    // position_increment_gap) — "$i second" spans value 1 → value 2
    assert(FieldedIndex.matchPhrasePrefix(spark, idx, t,
      Seq(1 -> "42 secon"), 5).count() === 0L)
    // cap: maxExpansions=1 keeps only the term-order-first expansion "4"
    // → phrase "title 4" matches exactly doc 4
    val capped = FieldedIndex.matchPhrasePrefix(spark, idx, t,
      Seq(1 -> "title 4"), 5, maxExpansions = 1)
      .join(spark.read.parquet(s"$idx/doc_map"), "doc_id").collect()
    assert(capped.map(_.getAs[String]("doi")).toSeq === Seq("10.1/nd.4"))
    // empty expansion (no dictionary term with the prefix) matches nothing
    assert(FieldedIndex.matchPhrasePrefix(spark, idx, t,
      Seq(1 -> "title zz"), 5).count() === 0L)
  }

  test("search_after: cursor page == from/size page at every depth") {
    val t = spec("title")
    val q = Seq(1 -> "second 7 record")
    // walk 3 pages by cursor; each must equal the from/size slice
    var cursor: Option[(Long, Long)] = None
    for (page <- 0 until 3) {
      val viaCursor = cursor match {
        case None => FieldedIndex.searchField(spark, idx, t, q, 4)
          .select(col("rnk"), col("doc_id"), col("score_x6"))
        case Some((s, d)) =>
          FieldedIndex.searchAfter(spark, idx, t, "second 7 record", 4, s, d)
      }
      val got = viaCursor.orderBy("rnk").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score_x6")))
      val want = FieldedIndex.searchFieldPaged(spark, idx, t, q, page * 4, 4)
        .orderBy("rnk").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score_x6")))
      assert(got.toSeq === want.toSeq, s"page $page diverged")
      cursor = Some((got.last._2, got.last._1))
    }
  }

  test("function_score: modes, modifiers, decay law, missing-field = 1.0") {
    import FieldedIndex.ScoreFunction._
    val t = spec("title"); val y = spec("year")
    def fs(fns: Seq[FieldedIndex.ScoreFunction], sm: String, bm: String) =
      FieldedIndex.functionScore(spark, idx, t, "record 7", fns, 5, sm, bm)
        .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    // boost_mode replace + constant weight: every hit scores the constant
    val repl = fs(Seq(Weight(2.0)), "multiply", "replace")
    assert(repl.values.toSet === Set(2000000L))
    // score_mode sum/max/min over two constants
    assert(fs(Seq(Weight(2.0), Weight(3.0)), "sum", "replace")
      .values.toSet === Set(5000000L))
    assert(fs(Seq(Weight(2.0), Weight(3.0)), "max", "replace")
      .values.toSet === Set(3000000L))
    assert(fs(Seq(Weight(2.0), Weight(3.0)), "min", "replace")
      .values.toSet === Set(2000000L))
    // boost_mode multiply with weight 1.0 == the plain match scores
    val plain = FieldedIndex.searchField(spark, idx, t,
      Seq(1 -> "record 7"), 5).collect()
      .map(r => r.getLong(2) -> r.getLong(3)).toMap
    assert(fs(Seq(Weight(1.0)), "multiply", "multiply") === plain)
    // field_value_factor log1p is ES's COMMON log: under replace every
    // value must be 0.5·log10(1+year) for some fixture year 1990..2019
    val f7 = fs(Seq(FieldValueFactor(y, 0.5, "log1p")), "multiply", "replace")
    val lawful = (1990 to 2019).map(yr =>
      math.round(0.5 * math.log10(1.0 + yr) * 1e6)).toSet
    assert(f7.values.forall(lawful.contains), s"got ${f7.values.toSet}")
    // gauss decay: origin-year docs score exactly the full query score
    // (decay 1.0); a doc |v-origin| = scale away scores decay× that
    val g = fs(Seq(Gauss(y, 1997.0, 5.0, decay = 0.5)), "multiply", "replace")
    assert(g.values.exists(_ == 1000000L)) // some hit sits AT the origin
    // script_score: a Column over _score and doc values compiles into the
    // same plan — qscore + 0.1·year as a script ≡ the fvf/sum formulation
    val viaScript = fs(Seq(Script(
      FieldedIndex.scriptScore +
        lit(0.1) * coalesce(FieldedIndex.scriptField(y), lit(1.0)),
      Seq(y))), "multiply", "replace")
    val viaFvf = fs(Seq(FieldValueFactor(y, 0.1, "none")), "multiply", "sum")
    assert(viaScript === viaFvf)
    // bad knobs refuse loudly
    intercept[IllegalArgumentException](fs(Seq(Weight(1.0)), "nope", "sum"))
    intercept[IllegalArgumentException](
      fs(Seq(FieldValueFactor(t, 1.0)), "multiply", "multiply"))
  }

  test("_explain: per-term decomposition sums to the served hit score") {
    val t = spec("title")
    val rows = FieldedIndex.explainMatch(spark, idx, t, "record 7",
      "10.1/nd.7").collect()
    // doc 7's title = ["Record 7 title", "second title 7"]: "7" tf=2 df=1,
    // "record" tf=1 df=1000; term order
    assert(rows.map(_.getString(0)).toSeq === Seq("7", "record"))
    val seven = rows.head
    assert(seven.getLong(2) === 2L && seven.getLong(3) === 1L)
    val served = FieldedIndex.searchField(spark, idx, t,
      Seq(1 -> "record 7"), 1).collect().head.getLong(3)
    val sumContrib = rows.map(_.getLong(7)).sum
    // summing per-term micro-rounded contribs can differ from rounding
    // the raw sum by at most (#terms) half-units
    assert(math.abs(sumContrib - served) <= rows.length,
      s"decomposition $sumContrib vs served $served")
    // unknown _id: matched=false → zero rows, full schema
    val none = FieldedIndex.explainMatch(spark, idx, t, "record", "nope")
    assert(none.count() === 0L && none.columns.length === 8)
    // a term absent from the doc contributes no row
    assert(FieldedIndex.explainMatch(spark, idx, t, "999", "10.1/nd.7")
      .count() === 0L)
  }

  test("match_bool_prefix: scored terms union a constant-score prefix") {
    val t = spec("title")
    def run(q: String, k: Int = 20): Seq[(String, Long)] =
      FieldedIndex.matchBoolPrefix(spark, idx, t, q, k)
        .join(spark.read.parquet(s"$idx/doc_map"), "doc_id")
        .orderBy("rnk").collect()
        .map(r => r.getAs[String]("doi") -> r.getAs[Long]("score_x6")).toSeq
    // full term "42" dominates on idf; the "99" prefix cohort (11 docs)
    // fills in at bm25(second) + 1.0
    val r = run("second 42 99")
    assert(r.head._1 === "10.1/nd.42")
    assert(r.map(_._1).contains("10.1/nd.99"))
    // single-token query = pure prefix: constant score 1.0, 11 docs
    val pure = run("99")
    assert(pure.size === 11 && pure.forall(_._2 === 1000000L))
    // bool/should is a union: an absent full term contributes nothing but
    // kills nothing
    assert(run("zzzabsent 99").map(_._1) === pure.map(_._1))
    // prefix expanding to nothing leaves the scored clauses alone
    assert(run("42 zzzabsent").head._1 === "10.1/nd.42")
    // analyzed-to-nothing refuses loudly
    assertThrows[IllegalArgumentException] {
      FieldedIndex.matchBoolPrefix(spark, idx, t, "the of", 5)
    }
  }

  test("terms+stats sub-agg: missing metrics drop from stats, not doc_count") {
    import spark.implicits._
    val dir = s"${sys.props("user.dir")}/target/test-idx/termsstats"
    new TableIO(dir).deleteAll()
    val cat = FieldedIndex.FieldSpec("cat", Analyzer.Keyword)
    val num = FieldedIndex.FieldSpec("num", Analyzer.Keyword)
    val docs = Seq(
      ("a1", Seq("x"), Seq("10")),
      ("a2", Seq("x"), Seq.empty[String]), // metric missing: counts in bucket
      ("a3", Seq("y"), Seq("5", "7")), // multi-valued: both values in stats
      ("a4", Seq("z"), Seq("oops")) // unparseable drops like missing
    ).toDF("k", "cat", "num")
    FieldedIndex.build(spark, docs, dir, Seq(cat, num), "k",
      graft.index.PostingsBuilder.Config(shardSize = 16))
    val rows = FieldedIndex.termsStatsAgg(spark, dir, cat, num, 10).collect()
    assert(rows.map(_.getAs[String]("term")).toSeq === Seq("x", "y", "z"))
    val byTerm = rows.map(r => r.getAs[String]("term") -> r).toMap
    val x = byTerm("x")
    assert(x.getAs[Long]("doc_count") === 2L && x.getAs[Long]("m_count") === 1L)
    assert(x.getAs[Long]("m_sum") === 10L && x.getAs[Long]("m_avg_x6") === 10000000L)
    val y = byTerm("y")
    assert(y.getAs[Long]("doc_count") === 1L && y.getAs[Long]("m_count") === 2L)
    assert(y.getAs[Long]("m_min") === 5L && y.getAs[Long]("m_max") === 7L)
    assert(y.getAs[Long]("m_avg_x6") === 6000000L)
    val z = byTerm("z") // all-missing bucket: ES empty-stats shape (nulls)
    assert(z.getAs[Long]("doc_count") === 1L && z.getAs[Long]("m_count") === 0L)
    assert(z.isNullAt(z.fieldIndex("m_min")) && z.isNullAt(z.fieldIndex("m_avg_x6")))
  }

  test("percentile_ranks: cumulative df fractions, 0 below min, 100 at max") {
    val y = spec("year")
    val rows = FieldedIndex.percentileRanksAgg(spark, idx, y,
      Seq(1989L, 1995L, 2004L, 2019L)).collect()
      .map(r => r.getAs[Long]("value") -> r.getAs[Long]("rank_x6")).toMap
    assert(rows(1989L) === 0L) // below the 1990..2019 range
    assert(rows(2019L) === 100000000L) // == 100% in micro-units
    // fixture years are i%30-uniform: rank(1995) ≈ 6/30, rank(2004) ≈ 15/30
    assert(rows(1995L) > 19000000L && rows(1995L) < 21000000L)
    assert(rows(2004L) > 49000000L && rows(2004L) < 51000000L)
    // monotone in the probe value
    assert(rows(1995L) < rows(2004L))
    assertThrows[IllegalArgumentException] {
      FieldedIndex.percentileRanksAgg(spark, idx, y, Seq.empty)
    }
  }

  test("filter agg: stats over the filter cohort only; empty filter serves zeros") {
    val r = FieldedIndex.filterStatsAgg(spark, idx, spec("year"),
      Seq("1997"), spec("volume")).collect().head
    // 1997 cohort = i ≡ 7 (mod 30), 34 docs; volumes are i % 50
    assert(r.getAs[Long]("doc_count") === 34L)
    assert(r.getAs[Long]("m_count") === 34L)
    val vols = (0 until 1000).filter(_ % 30 == 7).map(_ % 50)
    assert(r.getAs[Long]("m_min") === vols.min.toLong)
    assert(r.getAs[Long]("m_max") === vols.max.toLong)
    assert(r.getAs[Long]("m_sum") === vols.sum.toLong)
    // ES always returns the bucket: no matching docs → doc_count 0, NULL stats
    val e = FieldedIndex.filterStatsAgg(spark, idx, spec("year"),
      Seq("1234"), spec("volume")).collect().head
    assert(e.getAs[Long]("doc_count") === 0L && e.isNullAt(e.fieldIndex("m_min")))
  }

  test("composite agg: cursor pages reconstruct the full key-ordered stream") {
    val srcs = Seq(spec("year"), spec("volume"))
    val all = FieldedIndex.compositeAgg(spark, idx, srcs, 10000)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    // every (year, volume) pair of the fixture, keyword-lexicographic order
    assert(all.map(t => (t._1, t._2)) === all.map(t => (t._1, t._2)).sorted)
    assert(all.map(_._3).sum === 1000L)
    // walk pages of 7 through after-cursors — concatenation == the stream
    val walked = Iterator.iterate(
      (Seq.empty[(String, String, Long)], Option.empty[Seq[String]], true)) {
      case (acc, after, _) =>
        val page = FieldedIndex.compositeAgg(spark, idx, srcs, 7, after)
          .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
        (acc ++ page,
          page.lastOption.map(t => Seq(t._1, t._2)), page.nonEmpty)
    }.dropWhile(_._3).next()._1
    assert(walked === all)
    // cursor mid-key-1: "4" > "30" lexicographically (keyword source order)
    val after = FieldedIndex.compositeAgg(spark, idx, srcs, 5,
      Some(Seq("1992", "30"))).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(after.forall { case (y, v) => y > "1992" || (y == "1992" && v > "30") })
    assert(after === after.sorted)
  }

  test("more_like_this: tf·idf term selection finds the alike cohort") {
    val b = spec("bibliographic")
    def run(key: String, mdf: Int = 2, mqt: Int = 4): Seq[String] =
      FieldedIndex.moreLikeThis(spark, idx, b, key, 10,
        minTermFreq = 1, minDocFreq = mdf, maxQueryTerms = mqt,
        minShouldMatchPct = 30)
        .join(spark.read.parquet(s"$idx/doc_map"), "doc_id")
        .orderBy("rnk").collect().map(_.getAs[String]("doi")).toSeq
    // doc 123 selects {123, 223, 23, 1993}: doc 23 (shares "123" + 3×"23")
    // and doc 223 (shares "223" + volume 23) are the most alike
    val r = run("10.1/nd.123")
    assert(r.take(2).toSet === Set("10.1/nd.23", "10.1/nd.223"))
    // the seed doc itself is excluded (ES include=false)
    assert(!r.contains("10.1/nd.123"))
    // a min_doc_freq too high for every candidate → no terms, zero rows
    assert(run("10.1/nd.123", mdf = 2000).isEmpty)
    // unknown _id refuses loudly
    assertThrows[IllegalArgumentException] {
      FieldedIndex.moreLikeThis(spark, idx, b, "nope", 10)
    }
  }

  test("boosting query: negative cohort demoted, never excluded") {
    val t = spec("title"); val y = spec("year")
    val plain = FieldedIndex.searchField(spark, idx, t,
      Seq(1 -> "record 7"), 1000).collect()
      .map(r => r.getLong(2) -> r.getLong(3)).toMap
    val demoted = FieldedIndex.boostingQuery(spark, idx, t, "record 7",
      y, "1997", 0.5, 1000).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    // every positive hit survives (demote-don't-exclude)
    assert(demoted.length === plain.size)
    // the 1997 cohort (34 docs) carries exactly halved scores; the rest
    // are untouched
    val years = FieldedIndex.termQuery(spark, idx, y, Seq("1997"))
      .collect().map(_.getLong(1)).toSet
    demoted.foreach { case (d, s) =>
      val want = if (years.contains(d))
        math.round(plain(d) / 1e6 * 0.5 * 1e6) else plain(d)
      // halving a micro-rounded long can differ 1 micro-unit from halving
      // the raw double; allow that slack only on demoted docs
      if (years.contains(d)) assert(math.abs(s - want) <= 1L, s"doc $d")
      else assert(s === want, s"doc $d")
    }
    intercept[IllegalArgumentException](FieldedIndex.boostingQuery(
      spark, idx, t, "record", y, "1997", 1.5, 5))
  }

  test("range agg: half-open buckets, open ends, declared-empty emits 0") {
    // years 1990..2019, ~34/33 docs each
    val rows = FieldedIndex.rangeAgg(spark, idx, spec("year"), Seq(
      (None, Some(1995L)), (Some(1995L), Some(2005L)), (Some(2005L), None),
      (Some(3000L), None))).collect()
    assert(rows.map(_.getLong(3)).sum === 1000L + rows.last.getLong(3))
    // half-open: 1990..1994 = 5 cohorts; boundaries never double-count
    assert(rows(0).getLong(3) + rows(1).getLong(3) + rows(2).getLong(3)
      === 1000L)
    assert(rows(3).getLong(3) === 0L) // declared bucket beyond the data
    assert(rows(0).isNullAt(1) && rows(2).isNullAt(2)) // open ends NULL
    intercept[IllegalArgumentException](
      FieldedIndex.rangeAgg(spark, idx, spec("title"), Seq((None, None))))
  }

  test("percentiles agg: exact weighted percentiles, monotone, median pinned") {
    val rows = FieldedIndex.percentilesAgg(spark, idx, spec("year"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.map(_._1).toSeq ===
      Seq(10000L, 50000L, 250000L, 500000L, 750000L, 950000L, 990000L))
    // values ascend with the percentile and live inside the data range
    assert(rows.map(_._2).toSeq === rows.map(_._2).sorted.toSeq)
    assert(rows.head._2 >= 1990L * 1000000L &&
      rows.last._2 <= 2019L * 1000000L)
    // median of the 1000 fixture years (1990..1999 ×34, 2000..2019 ×33):
    // exact (n−1)·p interpolated value from the sorted multiset
    val years = (0 until 1000).map(i => 1990 + i % 30).sorted
    val mid = (years(499) + years(500)) / 2.0
    assert(rows(3)._2 === math.round(mid * 1e6))
  }

  test("scroll: walk to exhaustion equals the absolute ranking, then closes") {
    val y = spec("year")
    // 1997 cohort = 34 docs (i ≡ 7 mod 30): pages of 10 → 10,10,10,4
    val sc = FieldedIndex.scroll(spark, idx, y, "1997", 10)
    assert(sc.snapshotToken.nonEmpty)
    val pages = Iterator.continually(sc.next()).takeWhile(_.nonEmpty).toSeq
    assert(pages.map(_.length) === Seq(10, 10, 10, 4))
    // per-page ranks restart at 1 (ES cursor pages carry no absolute rank)
    assert(pages.forall(p => p.map(_._1) === (1L to p.length).toSeq))
    // concatenation IS the match's full ordering
    val all = FieldedIndex.searchField(spark, idx, y, Seq(1 -> "1997"), 34)
      .orderBy("rnk").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score_x6"))).toSeq
    assert(pages.flatten.map(t => (t._2, t._3)) === all)
    // exhausted: hasMore false, further pages empty (and stay empty)
    assert(!sc.hasMore)
    assert(sc.next().isEmpty && sc.next().isEmpty)
    // a born-empty scroll (analyzer drops everything) starts exhausted
    val empty = FieldedIndex.scroll(spark, idx, spec("title"), "the of", 5)
    assert(!empty.hasMore && empty.next().isEmpty)
  }

  test("scroll: snapshot pinned across a mid-scroll directory swap") {
    import spark.implicits._
    val dir = s"${sys.props("user.dir")}/target/scroll-swap-idx"
    val t = FieldedIndex.FieldSpec("title", Analyzer.TextStop)
    def corpus(tag: String) = (0 until 8).map(i =>
      (s"k$i", Seq(s"$tag doc $i"))).toDF("k", "title")
    new TableIO(dir).deleteAll()
    FieldedIndex.build(spark, corpus("alpha"), dir, Seq(t), keyCol = "k")
    // the full expected ordering, captured BEFORE any swap
    val want = FieldedIndex.searchField(spark, dir, t, Seq(1 -> "alpha doc"), 8)
      .orderBy("rnk").collect().map(r => (r.getLong(2), r.getLong(3))).toSeq
    val sc = FieldedIndex.scroll(spark, dir, t, "alpha doc", 3)
    val page1 = sc.next()
    // the swap: compaction's observable effect — the directory's contents
    // are REPLACED (different corpus, different vocabulary)
    new TableIO(dir).deleteAll()
    FieldedIndex.build(spark, corpus("beta"), dir, Seq(t), keyCol = "k")
    // later pages still serve the PINNED snapshot: the walk equals the
    // pre-swap ordering, though "alpha" no longer exists on disk
    val walked = (page1 +: Iterator.continually(sc.next())
      .takeWhile(_.nonEmpty).toSeq).flatten.map(r => (r._2, r._3))
    assert(walked === want)
    new TableIO(dir).deleteAll()
  }

  test("pagination: page slices the absolute ranking; deep from is empty") {
    val t = spec("title")
    val q = Seq(1 -> "second 7 record")
    val all = FieldedIndex.searchField(spark, idx, t, q, 10).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    val page = FieldedIndex.searchFieldPaged(spark, idx, t, q, 3, 4).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    // the page IS rows 4..7 of the unpaged ordering, absolute ranks kept
    assert(page.toSeq === all.slice(3, 7).toSeq)
    // a from beyond the hit count yields nothing ("7" hits only doc 7 but
    // "record"/"second" hit all 1000: slice past 1000)
    assert(FieldedIndex.searchFieldPaged(spark, idx, t, q, 1000, 5)
      .count() === 0L)
  }

  test("top_hits: the discriminative doc leads its bucket, others tie-break") {
    val hits = FieldedIndex.topHitsAgg(spark, idx, spec("year"),
      spec("title"), "record 7", 2)
      .join(spark.read.parquet(s"$idx/doc_map"), "doc_id").collect()
    // 30 year buckets × 2 hits
    assert(hits.length === 60)
    val y1997 = hits.filter(_.getAs[String]("term") == "1997")
      .sortBy(_.getAs[Long]("rnk")).map(_.getAs[String]("doi")).toSeq
    // doc 7 (year 1997) carries the "7" term → tops its bucket; the rest
    // of the bucket ties on "record" and rnk 2 is the tie-break winner:
    // lowest doc_id == lexicographically first DOI of {37,67,97,127,…},
    // which is nd.127 ("1" < "3" < "6" < "9")
    assert(y1997 === Seq("10.1/nd.7", "10.1/nd.127"))
    // every bucket's rnk-1 hit outranks-or-ties its rnk-2 hit
    val byBucket = hits.groupBy(_.getAs[String]("term"))
    assert(byBucket.values.forall { rs =>
      val s = rs.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Long]("score_x6"))
      s(0) >= s(1)
    })
  }

  test("_count and sort-by-field: distinct-union counts, numeric order, asc/desc") {
    val t = spec("title")
    // "record title" both post every doc — distinct union, not df sum
    assert(FieldedIndex.countQuery(spark, idx, t, "record title")
      .head().getLong(0) === 1000L)
    // absent term unions to nothing extra; fully-absent query counts 0
    assert(FieldedIndex.countQuery(spark, idx, t, "42 zz")
      .head().getLong(0) === 1L)
    assert(FieldedIndex.countQuery(spark, idx, t, "zz")
      .head().getLong(0) === 0L)
    // volume-23 cohort (20 docs), year desc: 2019 (i=989? 989%50=39 no...)
    // i ≡ 23 (mod 50): years 1990 + i%30 cycle; top year among the cohort
    val top = FieldedIndex.sortByField(spark, idx, spec("volume"),
      Seq("23"), spec("year"), descending = true, 5).collect()
    val asc = FieldedIndex.sortByField(spark, idx, spec("volume"),
      Seq("23"), spec("year"), descending = false, 5).collect()
    assert(top.map(_.getAs[Long]("sort_value")).toSeq ===
      top.map(_.getAs[Long]("sort_value")).sorted.reverse.toSeq)
    assert(asc.map(_.getAs[Long]("sort_value")).toSeq ===
      asc.map(_.getAs[Long]("sort_value")).sorted.toSeq)
    assert(asc.head.getAs[Long]("sort_value") <=
      top.head.getAs[Long]("sort_value"))
    // ranks are 1..k and doc_id tie-breaks equal years deterministically
    assert(top.map(_.getAs[Long]("rnk")).toSeq === (1L to 5L))
  }

  test("simple_query_string: parser flags, kernel result, negated-phrase rejection") {
    import FieldedIndex.{parseSimpleQuery, SimpleQuery}
    assert(parseSimpleQuery("+record 42 \"second title\" -999") ===
      SimpleQuery(Seq("record"), Seq("42"), Nil, Seq("second title"), Seq("999")))
    assert(parseSimpleQuery("  a  +\"x y\"  -b c ") ===
      SimpleQuery(Nil, Seq("a", "c"), Seq("x y"), Nil, Seq("b")))
    // unterminated quote: rest of string is the phrase body (lenient, ES-like)
    assert(parseSimpleQuery("\"tail phrase") ===
      SimpleQuery(Nil, Nil, Nil, Seq("tail phrase"), Nil))
    intercept[IllegalArgumentException] {
      parseSimpleQuery("a -\"no such support\"")
    }
    // end-to-end: doc 42 leads (extra should term), doc 999 excluded
    val rows = FieldedIndex.simpleQueryString(spark, idx, spec("title"),
      FieldedQueries.QStringQuery, 10)
      .join(spark.read.parquet(s"$idx/doc_map"), "doc_id").collect()
      .sortBy(_.getAs[Long]("rnk"))
    assert(rows.head.getAs[String]("doi") === "10.1/nd.42")
    assert(!rows.exists(_.getAs[String]("doi") == "10.1/nd.999"))
  }

  test("suggester/collapse/highlight: missing-mode, one-per-group, fragments") {
    // suggest_mode=missing: the present term yields NO row; typos correct
    val sug = FieldedIndex.termSuggest(spark, idx, spec("title"),
      "recrod titel title", 3).collect()
    assert(sug.map(r => (r.getString(0), r.getString(2))).toSet ===
      Set("recrod" -> "record", "titel" -> "title"))
    assert(sug.forall(_.getAs[Long]("distance") === 1L))
    // collapse: ≤1 hit per volume; doc 7 (vol "7") leads on its boost
    val col7 = FieldedIndex.collapseSearch(spark, idx, spec("title"),
      "record 7", spec("volume"), 10).collect()
    assert(col7.map(_.getAs[String]("collapse_value")).distinct.length ===
      col7.length)
    assert(col7.head.getAs[String]("collapse_value") === "7")
    // highlight: every fragment contains a wrapped ORIGINAL-case token,
    // non-matching values never emit
    val hl = FieldedIndex.highlight(spark, idx, spec("title"),
      Seq(1 -> "record 42"), 2).collect()
    assert(hl.nonEmpty)
    assert(hl.forall(_.getAs[String]("fragment").contains("<em>")))
    assert(hl.exists(_.getAs[String]("fragment").contains("<em>Record</em>")),
      "original case must be preserved inside the tags")
  }

  test("rescore: windowed phrase boost reorders a mass tie; outside stays out") {
    val rows = FieldedIndex.rescorePhrase(spark, idx, spec("title"),
      "record second", "title 1", 10, 20, 1.0, 2.0)
      .join(spark.read.parquet(s"$idx/doc_map"), "doc_id").collect()
      .sortBy(_.getAs[Long]("rnk"))
    // base ties everywhere; doc nd.1 carries "title 1" → jumps to rnk 1
    assert(rows.head.getAs[String]("doi") === "10.1/nd.1")
    // the rest of the window keeps the tie order (nd.0 second)
    assert(rows(1).getAs[String]("doi") === "10.1/nd.0")
    // docs outside the 20-doc window never surface, however well they'd
    // rescore ("title 5" would boost nd.5… which IS in the window; use a
    // doc lexicographically past the window: nd.2 is in, nd.999 is not)
    assert(!rows.exists(_.getAs[String]("doi") == "10.1/nd.999"))
    // k beyond the window is rejected loudly
    intercept[IllegalArgumentException] {
      FieldedIndex.rescorePhrase(spark, idx, spec("title"),
        "record second", "title 1", 30, 20)
    }
  }

  test("significant_terms: cohort volumes beat background, JLH positive") {
    val fg = FieldedIndex.termQuery(spark, idx, spec("year"), Seq("1993"))
    val rows = FieldedIndex.significantTermsAgg(spark, idx, spec("volume"),
      fg, 10).collect()
    // i ≡ 3 (mod 30) → i mod 50 cycles over exactly {3, 13, 23, 33, 43}
    assert(rows.map(_.getAs[String]("term")).toSet ===
      Set("3", "13", "23", "33", "43"))
    // every cohort volume is over-represented (fgPct ≈ 0.2 vs bgPct 0.02)
    assert(rows.forall(_.getAs[Long]("score_x6") > 0L))
    // background dfs are the corpus-wide 20-doc volume cohorts
    assert(rows.forall(_.getAs[Long]("bg_df") === 20L))
  }

  test("aggregations: histogram buckets, stats values, cardinality sub-agg") {
    val hist = FieldedIndex.histogramAgg(spark, idx, spec("year"), 7L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // years 1990..2019, counts 34 (r<10) / 33 (r≥10); 7-buckets cut mid-span
    assert(hist.map(_._1).toSeq === Seq(1988L, 1995L, 2002L, 2009L, 2016L))
    assert(hist.map(_._2).sum === 1000L)
    // term_stats-served aggs refuse multi-token chains loudly: a text
    // field's df-sums count values, not documents
    val multi = intercept[IllegalArgumentException] {
      FieldedIndex.histogramAgg(spark, idx, spec("title"), 7L)
    }
    assert(multi.getMessage.contains("single-valued keyword field"))
    intercept[IllegalArgumentException] {
      FieldedIndex.statsAgg(spark, idx, spec("title"))
    }
    val st = FieldedIndex.statsAgg(spark, idx, spec("year")).collect()(0)
    assert(st.getAs[Long]("value_count") === 1000L)
    assert(st.getAs[Long]("min_value") === 1990L)
    assert(st.getAs[Long]("max_value") === 2019L)
    // terms+cardinality: every year cohort sees exactly 5 distinct volumes
    // (i ≡ r mod 30 → i mod 50 cycles with period 5)
    val card = FieldedIndex.termsCardinalityAgg(spark, idx, spec("year"),
      spec("volume"), 10).collect()
    assert(card.length === 10)
    assert(card.forall(_.getAs[Long]("cardinality") === 5L))
    // top buckets are the 34-doc years, tie-broken term asc: 1990..1999
    assert(card.map(_.getAs[String]("term")).toSeq ===
      (1990 to 1999).map(_.toString))
  }
}
