package graft.api

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.FieldedIndex
import graft.index.FieldedIndex.{FieldSpec, Query}

/** The ES `_search` REQUEST BODY, parsed and executed — what the
  * reference's clients actually POST (SURVEY §3.3: Biblio-Glutton sends a
  * JSON bool/should of per-field matches). This is the final switch-over
  * surface: a request body that ran against the reference's Elasticsearch
  * runs here against the same mapping and returns the same ranking.
  *
  * Parsing is STRICT like ES's: an unknown query type, an unknown field,
  * an unrecognized parameter key, or a malformed clause fails loudly with
  * the offending path — never silently ignored (ES `parsing_exception`
  * behavior). This layer adds parsing, never semantics.
  *
  * The bool family parses into [[FieldedIndex.Query]], the tree that
  * [[FieldedIndex.query]] alone lowers to the bool kernel (and refuses,
  * before any job, where the kernel cannot serve it): match (bare text, or
  * `query` with `operator` / `boost`), match_phrase (slop refused with a
  * pointer at span_near — this engine's proximity contract lives there),
  * term (a match of one value), bool (match / match_phrase must and should
  * leaves, one term / terms / range filter and must_not,
  * minimum_should_match) and dis_max. The other nodes keep their typed
  * engine calls: match with fuzziness, fuzzy, match_phrase_prefix,
  * match_bool_prefix, terms, range, prefix, wildcard, regexp, exists,
  * span_near, more_like_this, boosting, constant_score, function_score.
  *
  * Scored nodes return the engine's (rnk, doc_id, score_x6); pure filter
  * nodes at the top level return the ES constant-score shape (every hit
  * 1.0 × boost, doc order — the tie-break ES applies to equal scores).
  * `from`/`size` slice the ABSOLUTE ranking (the engine fetches
  * from + size, then shifts ranks), matching the paged search law. */
object EsRequest {

  private val mapper = new ObjectMapper()

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"parsing_exception: $msg")

  private def obj(n: JsonNode, where: String): JsonNode = {
    if (n == null || !n.isObject) fail(s"$where must be a JSON object")
    n
  }

  /** Strictness gate: every key of `n` must be in `allowed`. */
  private def known(n: JsonNode, allowed: Set[String], where: String): Unit = {
    val bad = n.fieldNames().asScala.filterNot(allowed).toSeq
    if (bad.nonEmpty)
      fail(s"unknown key(s) [${bad.mkString(", ")}] in $where " +
        s"(supported: ${allowed.toSeq.sorted.mkString(", ")})")
  }

  private def text(n: JsonNode, key: String, where: String): String = {
    val v = n.get(key)
    if (v == null || !v.isTextual) fail(s"$where needs a string '$key'")
    v.asText()
  }

  // scalar rules: an integer is an integral JSON number in range (1.7 is
  // not 1, "2" is not 2), a number is any JSON number
  private def int(v: JsonNode, what: String): Int =
    if (v.isIntegralNumber && v.canConvertToInt) v.asInt()
    else fail(s"$what must be an integer")

  private def long(v: JsonNode, what: String): Long =
    if (v.isIntegralNumber && v.canConvertToLong) v.asLong()
    else fail(s"$what must be an integer")

  private def num(v: JsonNode, what: String): Double =
    if (v.isNumber) v.asDouble() else fail(s"$what must be a number")

  private def optInt(n: JsonNode, key: String): Option[Int] =
    Option(n.get(key)).map(int(_, s"'$key'"))

  private def optNum(n: JsonNode, key: String): Option[Double] =
    Option(n.get(key)).map(num(_, s"'$key'"))

  private def optLong(n: JsonNode, key: String): Option[Long] =
    Option(n.get(key)).map(long(_, s"'$key'"))

  /** The single (field → body) entry of a one-field query node. */
  private def oneField(n: JsonNode, where: String): (String, JsonNode) = {
    val fields = n.fieldNames().asScala.toSeq
    if (fields.size != 1) fail(s"$where expects exactly one field, " +
      s"got [${fields.mkString(", ")}]")
    (fields.head, n.get(fields.head))
  }

  /** Clause value that is either a bare scalar or {PARAM-OBJECT}. */
  private def queryText(v: JsonNode, where: String,
                        textKey: String = "query"): String =
    if (v.isTextual || v.isNumber) v.asText()
    else text(obj(v, where), textKey, where)

  /** ES `fuzziness`, for match and fuzzy alike: absent or "AUTO" (−1), or
    * an edit count 0, 1 or 2. */
  private def fuzziness(n: JsonNode, where: String): Int =
    Option(n.get("fuzziness")) match {
      case None => -1
      case Some(x) if x.isTextual && x.asText() == "AUTO" => -1
      case Some(x) if x.isIntegralNumber && x.canConvertToInt &&
          x.asInt() >= 0 && x.asInt() <= 2 => x.asInt()
      case Some(x) => fail(s"$where.fuzziness must be AUTO or an edit count " +
        s"0, 1 or 2, got [$x]")
    }

  /** ES array-or-single clause lists: `"must": {...}` ≡ `"must": [{...}]`. */
  private def clauseList(n: JsonNode): Seq[JsonNode] =
    if (n == null) Nil
    else if (n.isArray) n.elements().asScala.toSeq
    else Seq(n)

  /** Run one request body against an index built with `mapping`.
    * A `query` body returns (rnk, doc_id, score_x6) of the requested
    * page; an `aggs` body (one named aggregation, `size: 0` implied — the
    * standard ES pure-agg request) returns that aggregation's frame. The
    * two are mutually exclusive here: this layer returns ONE DataFrame,
    * and a hits+aggs response would need a composite envelope — post two
    * requests, as ES clients commonly do anyway. */
  def run(spark: SparkSession, indexDir: String, body: String,
          mapping: Seq[FieldSpec] = FieldedIndex.CrossrefMapping): DataFrame = {
    val root =
      try mapper.readTree(body)
      catch { case e: Exception => fail(s"malformed JSON: ${e.getMessage}") }
    obj(root, "request body")
    known(root, Set("query", "size", "from", "aggs", "sort", "search_after",
      "collapse", "highlight", "rescore"), "request body")
    val qn = root.get("query")
    val an = root.get("aggs")
    if (qn != null && an != null)
      fail("query and aggs in one body are not combined by this layer — " +
        "post the aggregation as its own request")
    if (an != null) {
      if (optInt(root, "size").exists(_ != 0) || optInt(root, "from").nonEmpty)
        fail("an aggs body implies size 0 (no hits page)")
      val stray = Seq("sort", "search_after", "collapse", "highlight",
        "rescore").filter(root.get(_) != null)
      if (stray.nonEmpty) // never silently dropped — the strictness contract
        fail(s"[${stray.mkString(", ")}] decorate a hits page, " +
          "not an aggs body")
      return aggs(spark, indexDir, mapping, an)
    }
    val size = optInt(root, "size").getOrElse(10)
    val from = optInt(root, "from").getOrElse(0)
    if (size <= 0 || from < 0) fail("size must be > 0 and from ≥ 0")
    if (qn == null) fail("request body needs a 'query' or 'aggs'")

    // top-level decorations — each changes the response shape, so exactly
    // one may appear, and each composes with the query type it decorates
    val deco = Seq("sort", "search_after", "collapse", "highlight", "rescore")
      .filter(root.get(_) != null)
    if (deco.size > 1)
      fail(s"one of sort/search_after/collapse/highlight/rescore per body, " +
        s"got [${deco.mkString(", ")}]")
    if (deco.nonEmpty && from != 0)
      fail(s"'from' does not compose with ${deco.head} " +
        "(the cursor/window owns the paging law)")
    def matchQuery(): (FieldSpec, String) = plainMatch(mapping, qn, "query")
    deco.headOption match {
      case Some("sort") =>
        // sort serves a filter cohort in doc-value order (constant-score
        // hits never carry a meaningful _score ordering)
        val entries = clauseList(root.get("sort"))
        if (entries.size != 1) fail("sort expects exactly one field entry")
        val (f, v) = oneField(obj(entries.head, "sort"), "sort")
        if (v.isObject) known(v, Set("order"), s"sort.$f")
        val order = queryText(v, s"sort.$f", "order")
        if (order != "asc" && order != "desc")
          fail(s"sort.$f.order must be asc/desc, got [$order]")
        val cohort = filterClause(spark, indexDir, mapping, qn, "query")
        return FieldedIndex.sortByField(spark, indexDir, cohort.spec,
          cohort.values, spec(mapping, f), descending = order == "desc", size)
      case Some("search_after") =>
        val sa = root.get("search_after")
        if (!sa.isArray || sa.size() != 2 || !sa.asScala.forall(v =>
            v.isIntegralNumber && v.canConvertToLong))
          fail("search_after expects two integers [score_x6, doc_id] " +
            "(the engine's deterministic sort key)")
        val (fs, t) = matchQuery()
        return FieldedIndex.searchAfter(spark, indexDir, fs, t, size,
          sa.get(0).asLong(), sa.get(1).asLong())
      case Some("collapse") =>
        known(obj(root.get("collapse"), "collapse"), Set("field"), "collapse")
        val (fs, t) = matchQuery()
        return FieldedIndex.collapseSearch(spark, indexDir, fs, t,
          spec(mapping, text(root.get("collapse"), "field", "collapse")), size)
      case Some("highlight") =>
        val hn = obj(root.get("highlight"), "highlight")
        known(hn, Set("fields"), "highlight")
        val (hf, hv) = oneField(obj(hn.get("fields"), "highlight.fields"),
          "highlight.fields")
        known(obj(hv, s"highlight.fields.$hf"), Set.empty, // ES's {} form
          s"highlight.fields.$hf")
        val (fs, t) = matchQuery()
        if (hf != fs.field)
          fail(s"highlight.fields.$hf: this engine highlights the matched " +
            s"field (${fs.field})")
        return FieldedIndex.highlight(spark, indexDir, fs, Seq(1 -> t), size)
          .select(col("rnk"), col("doc_id"), col("fragment"))
      case Some("rescore") =>
        val rn = obj(root.get("rescore"), "rescore")
        known(rn, Set("window_size", "query"), "rescore")
        val rq = obj(rn.get("query"), "rescore.query")
        known(rq, Set("rescore_query", "query_weight",
          "rescore_query_weight"), "rescore.query")
        val (rfs, rt) = leaf(mapping, rq.get("rescore_query"),
            "rescore.query.rescore_query") match {
          case Query.Phrase(rfs, rt) => (rfs, rt)
          case _ => fail("rescore_query must be a match_phrase (the windowed " +
            "phrase re-ranker)")
        }
        val (fs, t) = matchQuery()
        if (rfs.field != fs.field)
          fail("rescore_query must target the matched field")
        return FieldedIndex.rescorePhrase(spark, indexDir, fs, t, rt, size,
          windowSize = optInt(rn, "window_size")
            .getOrElse(fail("rescore needs window_size")),
          queryWeight = optNum(rq, "query_weight").getOrElse(1.0),
          rescoreWeight = optNum(rq, "rescore_query_weight").getOrElse(1.0))
      case _ => ()
    }

    val hits = exec(spark, indexDir, mapping, qn, from + size)
    if (from == 0) hits
    else hits.filter(col("rnk") > from)
      .select((col("rnk") - from).as("rnk"), col("doc_id"), col("score_x6"))
  }

  private def spec(mapping: Seq[FieldSpec], f: String): FieldSpec =
    mapping.find(_.field == f)
      .getOrElse(fail(s"unknown field [$f] (mapped: " +
        mapping.map(_.field).mkString(", ") + ")"))

  /** Uniform (rnk, doc_id, score_x6) from a (qid, rnk, …) single query. */
  private def dropQid(df: DataFrame): DataFrame =
    df.select(col("rnk"), col("doc_id"), col("score_x6"))

  /** ES constant-score hit shape: every match scores boost, doc order. */
  private def constDocs(docs: DataFrame, k: Int,
                        boost: Double = 1.0): DataFrame =
    FieldedIndex.rankTop(docs.select(col("doc_id")).distinct()
      .withColumn("score_x6", lit(math.round(boost * 1e6))), k)

  /** A match or match_phrase leaf of the query tree (`n` is
    * `{kind: {field: …}}`): a match in any form (bare text, or `query` with
    * `operator` / `boost`), or an exact phrase (slop is span_near's). */
  private def leaf(mapping: Seq[FieldSpec], n: JsonNode,
      where: String): Query = {
    val (kind, body) = oneField(obj(n, where), where)
    if (kind != "match" && kind != "match_phrase")
      fail(s"$where supports match / match_phrase clauses, got [$kind]")
    val (f, v) = oneField(obj(body, s"$where.$kind"), s"$where.$kind")
    val at = s"$where.$kind.$f"
    if (kind == "match_phrase") {
      if (v.isObject) {
        known(v, Set("query", "slop"), at)
        if (optInt(v, "slop").exists(_ > 0))
          fail(s"$at: slop is served by span_near in this engine " +
            "(quantized sloppyFreq contract) — post a span_near query")
      }
      Query.Phrase(spec(mapping, f), queryText(v, at))
    } else if (!v.isObject) Query.Match(spec(mapping, f), queryText(v, at))
    else {
      known(v, Set("query", "operator", "boost"), at)
      val and = Option(v.get("operator")).map(_.asText()) match {
        case None | Some("or") => false
        case Some("and") => true
        case Some(other) => fail(s"$at.operator must be or/and, got [$other]")
      }
      Query.Match(spec(mapping, f), text(v, "query", at),
        optNum(v, "boost").getOrElse(1.0), and)
    }
  }

  /** The field and text of a match with no boost and no operator: the
    * shapes outside the tree (the decorations, boosting, function_score)
    * score a plain match. */
  private def plainMatch(mapping: Seq[FieldSpec], n: JsonNode,
      where: String): (FieldSpec, String) = leaf(mapping, n, where) match {
    case Query.Match(fs, t, 1.0, false) => (fs, t)
    case _ => fail(s"$where must be a match with no boost or operator here")
  }

  /** A filter-context clause: the term values of one field. */
  private def filterClause(spark: SparkSession, indexDir: String,
      mapping: Seq[FieldSpec], n: JsonNode, where: String): Query.Terms = {
    val (kind, body) = oneField(obj(n, where), where)
    kind match {
      case "term" =>
        val (f, v) = oneField(obj(body, s"$where.term"), s"$where.term")
        if (v.isObject) known(v, Set("value"), s"$where.term.$f")
        Query.Terms(spec(mapping, f),
          Seq(queryText(v, s"$where.term.$f", "value")))
      case "terms" =>
        val (f, v) = oneField(obj(body, s"$where.terms"), s"$where.terms")
        if (!v.isArray) fail(s"$where.terms.$f must be an array")
        Query.Terms(spec(mapping, f), v.elements().asScala.map(e =>
          if (e.isTextual || e.isNumber) e.asText()
          else fail(s"$where.terms.$f values must be strings or numbers")).toSeq)
      case "range" =>
        val (f, v) = oneField(obj(body, s"$where.range"), s"$where.range")
        known(obj(v, s"$where.range.$f"), Set("gte", "lte", "gt", "lt"),
          s"$where.range.$f")
        val fs = spec(mapping, f)
        // rewrite to the capped dictionary expansion (the engine's range
        // law); terms re-analyze idempotently under the keyword chains
        Query.Terms(fs, FieldedIndex.rangeTerms(spark, indexDir, fs,
          optLong(v, "gte"), optLong(v, "lte"),
          optLong(v, "gt"), optLong(v, "lt")))
      case other =>
        fail(s"$where supports term / terms / range filters, got [$other]")
    }
  }

  /** The query tree of a top-level match / match_phrase / term / bool /
    * dis_max node (`n` is `{kind: body}`). */
  private def tree(spark: SparkSession, indexDir: String,
      mapping: Seq[FieldSpec], n: JsonNode): Query = {
    val (kind, body) = oneField(n, "query")
    def clauses(key: String): Seq[Query] =
      clauseList(body.get(key)).map(leaf(mapping, _, s"$kind.$key"))
    kind match {
      case "term" =>
        val (f, v) = oneField(obj(body, "term"), "term")
        if (v.isObject) known(v, Set("value"), s"term.$f")
        Query.Match(spec(mapping, f), queryText(v, s"term.$f", "value"))
      case "bool" =>
        known(obj(body, "bool"), Set("must", "should", "filter", "must_not",
          "minimum_should_match"), "bool")
        def terms(key: String): Option[Query.Terms] =
          clauseList(body.get(key)) match {
            case Seq() => None
            case Seq(c) =>
              Some(filterClause(spark, indexDir, mapping, c, s"bool.$key"))
            case _ => fail(s"bool.$key: one $key clause per bool " +
              "(compose further values as terms of the same field)")
          }
        Query.Bool(clauses("must"), clauses("should"), terms("filter"),
          terms("must_not"),
          optInt(body, "minimum_should_match"))
      case "dis_max" =>
        known(obj(body, "dis_max"), Set("queries", "tie_breaker"), "dis_max")
        Query.DisMax(clauses("queries"),
          optNum(body, "tie_breaker").getOrElse(0.0))
      case _ => leaf(mapping, n, "query")
    }
  }

  /** A match with fuzziness, or a fuzzy node, through the typed fuzzy
    * call; `v` holds the `fuzziness` and `max_expansions` keys. */
  private def fuzzy(spark: SparkSession, indexDir: String, fs: FieldSpec,
      q: String, v: JsonNode, where: String, k: Int): DataFrame =
    dropQid(FieldedIndex.fuzzyMatch(spark, indexDir, fs, Seq(1 -> q), k,
      fuzziness = fuzziness(v, where),
      maxExpansions = optInt(v, "max_expansions").getOrElse(50)))

  private def exec(spark: SparkSession, indexDir: String,
      mapping: Seq[FieldSpec], qn: JsonNode, k: Int): DataFrame = {
    obj(qn, "query")
    val (kind, body) = oneField(qn, "query")
    kind match {
      case "match" if oneField(obj(body, "match"), "match")._2
          .has("fuzziness") =>
        val (f, v) = oneField(body, "match")
        known(v, Set("query", "operator", "boost", "fuzziness",
          "max_expansions"), s"match.$f")
        if (Option(v.get("operator")).exists(_.asText() != "or") ||
            optNum(v, "boost").exists(_ != 1.0))
          fail(s"match.$f: fuzziness composes with neither operator nor boost")
        fuzzy(spark, indexDir, spec(mapping, f), text(v, "query", s"match.$f"),
          v, s"match.$f", k)

      case "match" | "match_phrase" | "term" | "bool" | "dis_max" =>
        FieldedIndex.query(spark, indexDir,
          tree(spark, indexDir, mapping, qn), k)

      case "match_phrase_prefix" =>
        val (f, v) = oneField(obj(body, "match_phrase_prefix"),
          "match_phrase_prefix")
        dropQid(FieldedIndex.matchPhrasePrefix(spark, indexDir,
          spec(mapping, f), Seq(1 -> queryText(v, s"match_phrase_prefix.$f")), k))

      case "match_bool_prefix" =>
        val (f, v) = oneField(obj(body, "match_bool_prefix"),
          "match_bool_prefix")
        FieldedIndex.matchBoolPrefix(spark, indexDir, spec(mapping, f),
          queryText(v, s"match_bool_prefix.$f"), k)

      case "terms" | "range" =>
        val t = filterClause(spark, indexDir, mapping, qn, "query")
        constDocs(FieldedIndex.termQuery(spark, indexDir, t.spec, t.values), k)

      case "prefix" =>
        val (f, v) = oneField(obj(body, "prefix"), "prefix")
        if (v.isObject) known(v, Set("value"), s"prefix.$f")
        constDocs(FieldedIndex.prefixQuery(spark, indexDir, spec(mapping, f),
          queryText(v, s"prefix.$f", "value")), k)

      case "wildcard" =>
        val (f, v) = oneField(obj(body, "wildcard"), "wildcard")
        if (v.isObject) known(v, Set("value"), s"wildcard.$f")
        constDocs(FieldedIndex.wildcardQuery(spark, indexDir,
          spec(mapping, f), queryText(v, s"wildcard.$f", "value")), k)

      case "regexp" =>
        val (f, v) = oneField(obj(body, "regexp"), "regexp")
        if (v.isObject) known(v, Set("value"), s"regexp.$f")
        constDocs(FieldedIndex.regexpQuery(spark, indexDir, spec(mapping, f),
          queryText(v, s"regexp.$f", "value")), k)

      case "exists" =>
        known(obj(body, "exists"), Set("field"), "exists")
        constDocs(FieldedIndex.existsQuery(spark, indexDir,
          spec(mapping, text(body, "field", "exists"))), k)

      case "fuzzy" =>
        val (f, v) = oneField(obj(body, "fuzzy"), "fuzzy")
        known(obj(v, s"fuzzy.$f"), Set("value", "fuzziness", "max_expansions"),
          s"fuzzy.$f")
        fuzzy(spark, indexDir, spec(mapping, f), text(v, "value", s"fuzzy.$f"),
          v, s"fuzzy.$f", k)

      case "span_near" =>
        known(obj(body, "span_near"), Set("clauses", "slop", "in_order"),
          "span_near")
        val clauses = clauseList(body.get("clauses")).map { c =>
          val (ck, cb) = oneField(obj(c, "span_near.clauses"),
            "span_near.clauses")
          if (ck != "span_term")
            fail(s"span_near clauses must be span_term, got [$ck]")
          oneField(obj(cb, "span_term"), "span_term")
        }
        if (clauses.isEmpty) fail("span_near needs ≥ 1 clause")
        val fieldsUsed = clauses.map(_._1).distinct
        if (fieldsUsed.size != 1)
          fail(s"span_near clauses must target one field, got " +
            s"[${fieldsUsed.mkString(", ")}]")
        val slop = optInt(obj(body, "span_near"), "slop").getOrElse(0)
        // required, not defaulted: the ordered/unordered kernels differ in
        // contract — a silently-assumed order would be the worst failure
        val io = body.get("in_order")
        if (io == null || !io.isBoolean)
          fail("span_near needs an explicit boolean in_order")
        val inOrder = io.asBoolean()
        dropQid(FieldedIndex.spanNear(spark, indexDir,
          spec(mapping, fieldsUsed.head),
          Seq((1, clauses.map(_._2.asText()).mkString(" "), slop)), k,
          inOrder = inOrder))

      case "more_like_this" =>
        known(obj(body, "more_like_this"), Set("fields", "like",
          "min_term_freq", "min_doc_freq", "max_query_terms",
          "minimum_should_match"), "more_like_this")
        val fields = clauseList(body.get("fields")).map(_.asText())
        if (fields.size != 1)
          fail("more_like_this: exactly one entry in 'fields'")
        val likes = clauseList(body.get("like"))
        if (likes.size != 1 || !likes.head.isObject)
          fail("more_like_this: 'like' must be one {\"_id\": …} document")
        known(likes.head, Set("_id"), "more_like_this.like")
        val msmPct = Option(body.get("minimum_should_match")).map { m =>
          val s = if (m.isTextual) m.asText() else ""
          s.stripSuffix("%").toIntOption
            .filter(p => s.endsWith("%") && p >= 0 && p <= 100)
            .getOrElse(fail("more_like_this.minimum_should_match must be a " +
              s"percent string from 0% to 100%, got [$m]"))
        }.getOrElse(30)
        FieldedIndex.moreLikeThis(spark, indexDir,
          spec(mapping, fields.head),
          text(likes.head, "_id", "more_like_this.like"), k,
          minTermFreq = optInt(body, "min_term_freq").getOrElse(2),
          minDocFreq = optInt(body, "min_doc_freq").getOrElse(5),
          maxQueryTerms = optInt(body, "max_query_terms").getOrElse(25),
          minShouldMatchPct = msmPct)

      case "boosting" =>
        known(obj(body, "boosting"), Set("positive", "negative",
          "negative_boost"), "boosting")
        val (pos, pt) = plainMatch(mapping, body.get("positive"),
          "boosting.positive")
        val (neg, nt) = plainMatch(mapping, body.get("negative"),
          "boosting.negative")
        val nb = optNum(obj(body, "boosting"), "negative_boost")
          .getOrElse(fail("boosting needs negative_boost"))
        FieldedIndex.boostingQuery(spark, indexDir, pos, pt, neg, nt, nb, k)

      case "constant_score" =>
        known(obj(body, "constant_score"), Set("filter", "boost"),
          "constant_score")
        val fn = body.get("filter")
        if (fn == null) fail("constant_score needs a filter")
        val t = filterClause(spark, indexDir, mapping, fn,
          "constant_score.filter")
        constDocs(FieldedIndex.termQuery(spark, indexDir, t.spec, t.values), k,
          optNum(body, "boost").getOrElse(1.0))

      case "function_score" =>
        known(obj(body, "function_score"), Set("query", "functions",
          "score_mode", "boost_mode"), "function_score")
        val inner = body.get("query")
        if (inner == null) fail("function_score needs an inner query")
        val (fs, itext) = plainMatch(mapping, inner, "function_score.query")
        val fns = clauseList(body.get("functions")).map(parseFunction(mapping, _))
        if (fns.isEmpty) fail("function_score needs ≥ 1 function")
        FieldedIndex.functionScore(spark, indexDir, fs, itext, fns, k,
          scoreMode = Option(body.get("score_mode")).map(_.asText())
            .getOrElse("multiply"),
          boostMode = Option(body.get("boost_mode")).map(_.asText())
            .getOrElse("multiply"))

      case other => fail(s"unsupported query type [$other]")
    }
  }

  /** One function of a function_score `functions` array. */
  private def parseFunction(mapping: Seq[FieldSpec],
      n: JsonNode): FieldedIndex.ScoreFunction = {
    obj(n, "function_score.functions")
    val (kind, body) = oneField(n, "function_score.functions")
    kind match {
      case "weight" =>
        FieldedIndex.ScoreFunction.Weight(num(body, "weight"))
      case "field_value_factor" =>
        known(obj(body, "field_value_factor"), Set("field", "factor",
          "modifier", "missing"), "field_value_factor")
        FieldedIndex.ScoreFunction.FieldValueFactor(
          spec(mapping, text(body, "field", "field_value_factor")),
          optNum(body, "factor").getOrElse(1.0),
          Option(body.get("modifier")).map(_.asText()).getOrElse("none"),
          optNum(body, "missing").getOrElse(1.0))
      case "gauss" =>
        val (f, v) = oneField(obj(body, "gauss"), "gauss")
        known(obj(v, s"gauss.$f"), Set("origin", "scale", "offset", "decay"),
          s"gauss.$f")
        FieldedIndex.ScoreFunction.Gauss(spec(mapping, f),
          optNum(v, "origin").getOrElse(fail(s"gauss.$f needs origin")),
          optNum(v, "scale").getOrElse(fail(s"gauss.$f needs scale")),
          optNum(v, "offset").getOrElse(0.0),
          optNum(v, "decay").getOrElse(0.5))
      case other =>
        fail(s"unsupported function [$other] (weight, field_value_factor, " +
          "gauss; script_score is the Column-based API, not JSON-expressible)")
    }
  }

  /** A pure-aggregation body: exactly ONE named aggregation, dispatched to
    * the engine's agg calls. Nested `aggs` compose the built composed
    * forms: terms+cardinality, terms+stats, filter+stats. */
  private def aggs(spark: SparkSession, indexDir: String,
      mapping: Seq[FieldSpec], an: JsonNode): DataFrame = {
    obj(an, "aggs")
    val (_, node) = oneField(an, "aggs") // the agg's NAME (any string)
    obj(node, "aggs entry")
    val subAggs = Option(node.get("aggs"))
    val kinds = node.fieldNames().asScala.filterNot(_ == "aggs").toSeq
    if (kinds.size != 1)
      fail(s"an aggregation needs exactly one type, got [${kinds.mkString(", ")}]")
    val kind = kinds.head
    val body = node.get(kind)

    /** The single (kind, field) of a nested metric sub-agg. */
    def subMetric(): Option[(String, FieldSpec)] = subAggs.map { sn =>
      val (_, sub) = oneField(obj(sn, "aggs.aggs"), "aggs.aggs")
      val (sk, sb) = oneField(obj(sub, "sub-aggregation"), "sub-aggregation")
      known(obj(sb, s"sub $sk"), Set("field"), s"sub $sk")
      (sk, spec(mapping, text(sb, "field", s"sub $sk")))
    }

    kind match {
      case "terms" =>
        known(obj(body, "terms"), Set("field", "size"), "terms agg")
        val fs = spec(mapping, text(body, "field", "terms agg"))
        val size = optInt(body, "size").getOrElse(10)
        subMetric() match {
          case None => FieldedIndex.termsAgg(spark, indexDir, fs, size)
          case Some(("cardinality", sub)) =>
            FieldedIndex.termsCardinalityAgg(spark, indexDir, fs, sub, size)
          case Some(("stats", sub)) =>
            FieldedIndex.termsStatsAgg(spark, indexDir, fs, sub, size)
          case Some((other, _)) =>
            fail(s"terms sub-aggregation supports cardinality/stats, got [$other]")
        }
      case "histogram" =>
        known(obj(body, "histogram"), Set("field", "interval"), "histogram agg")
        FieldedIndex.histogramAgg(spark, indexDir,
          spec(mapping, text(body, "field", "histogram agg")),
          optLong(body, "interval").getOrElse(fail("histogram needs interval")))
      case "stats" =>
        known(obj(body, "stats"), Set("field"), "stats agg")
        FieldedIndex.statsAgg(spark, indexDir,
          spec(mapping, text(body, "field", "stats agg")))
      case "range" =>
        known(obj(body, "range"), Set("field", "ranges"), "range agg")
        val ranges = clauseList(body.get("ranges")).map { r =>
          known(obj(r, "range agg range"), Set("from", "to"), "range agg range")
          (optLong(r, "from"), optLong(r, "to"))
        }
        FieldedIndex.rangeAgg(spark, indexDir,
          spec(mapping, text(body, "field", "range agg")), ranges)
      case "percentiles" =>
        known(obj(body, "percentiles"), Set("field", "percents"),
          "percentiles agg")
        val fs = spec(mapping, text(body, "field", "percentiles agg"))
        val ps = clauseList(body.get("percents"))
          .map(num(_, "percentiles.percents[]") / 100.0)
        if (ps.isEmpty) FieldedIndex.percentilesAgg(spark, indexDir, fs)
        else FieldedIndex.percentilesAgg(spark, indexDir, fs, ps)
      case "percentile_ranks" =>
        known(obj(body, "percentile_ranks"), Set("field", "values"),
          "percentile_ranks agg")
        FieldedIndex.percentileRanksAgg(spark, indexDir,
          spec(mapping, text(body, "field", "percentile_ranks agg")),
          clauseList(body.get("values")).map(long(_, "percentile_ranks.values[]")))
      case "missing" =>
        known(obj(body, "missing"), Set("field"), "missing agg")
        FieldedIndex.missingAgg(spark, indexDir,
          spec(mapping, text(body, "field", "missing agg")))
      case "filter" =>
        val t = filterClause(spark, indexDir, mapping, body, "filter agg")
        subMetric() match {
          case Some(("stats", sub)) =>
            FieldedIndex.filterStatsAgg(spark, indexDir, t.spec, t.values, sub)
          case other => fail("filter agg needs a stats sub-aggregation, " +
            s"got [${other.map(_._1).getOrElse("none")}]")
        }
      case "composite" =>
        known(obj(body, "composite"), Set("size", "sources", "after"),
          "composite agg")
        val sources = clauseList(body.get("sources")).map { s =>
          val (_, src) = oneField(obj(s, "composite source"),
            "composite source")
          val (sk, sb) = oneField(obj(src, "composite source type"),
            "composite source type")
          if (sk != "terms") fail(s"composite sources must be terms, got [$sk]")
          known(obj(sb, "composite terms source"), Set("field"),
            "composite terms source")
          spec(mapping, text(sb, "field", "composite terms source"))
        }
        val after = Option(body.get("after")).map { a =>
          obj(a, "composite.after")
          sources.map(s => text(a, s.field, "composite.after"))
        }
        FieldedIndex.compositeAgg(spark, indexDir, sources,
          optInt(body, "size").getOrElse(10), after)
      case other => fail(s"unsupported aggregation [$other]")
    }
  }
}
