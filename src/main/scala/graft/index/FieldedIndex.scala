package graft.index

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

import graft.analysis.Analyzer
import graft.io.TableIO
import graft.query.{Bm25, Searcher}

/** Per-field inverted indexing + fielded queries — the reference's
  * 12-field → 4-analyzer mapping (elastic/settings.go:87-138) as a
  * first-class index layout.
  *
  * Layout: doc identity is assigned ONCE at the top level (staged docs +
  * `doc_map`), and every mapped field gets its own complete doc-sharded
  * sub-index under `<dir>/field=<name>`, built by [[PostingsBuilder]] with
  * the field's analyzer chain. This is the "per-field index dirs" shape:
  *
  *  - all sub-indexes share the doc_id space, so cross-field results join
  *    on doc_id with no translation;
  *  - per-field BM25 statistics (df, dl, avgdl, N) fall out naturally —
  *    each sub-index's stats ARE the field's stats, which is exactly
  *    Lucene's per-field norms/docCount model;
  *  - a query against field F opens F's sub-index and analyzes the query
  *    text with F's chain (ES match-query semantics); keyword-chain fields
  *    support exact-match term queries (ES term query) via
  *    [[Searcher.termDocs]];
  *  - at scale, each field build costs its own text volume only (title/DOI
  *    fields are tiny next to `bibliographic`), fields build CONCURRENTLY
  *    ([[TableIO.stepsPar]] — independent manifests, Spark interleaves the
  *    jobs), and a reader pays only for the fields it queries (sub-index
  *    scans are per-field directories — never a scan over other fields'
  *    postings).
  *
  * Multi-valued fields follow ES array semantics ([[Analyzer.chainCounts]]):
  * values concatenate into one token stream (text chains) or contribute one
  * token per non-empty value (keyword chains). A doc belongs to a field's
  * sub-corpus iff it has ≥1 non-empty value for the field — the engine's
  * definition of Lucene's per-field docCount.
  */
object FieldedIndex {

  final case class FieldSpec(field: String, chain: String) {
    require(Analyzer.Chains.contains(chain), s"unknown chain $chain")
  }

  /** The reference's full mapping (elastic/settings.go:87-138).
    * `first_author`, `author` and `query` are declared in the reference's
    * index settings but never populated by its pipeline
    * (SimplifiedPublication carries 9 fields, publication.go:202-212) —
    * they are supported chains here and simply absent from the crossref
    * corpus projection. */
  val CrossrefMapping: Seq[FieldSpec] = Seq(
    FieldSpec("DOI", Analyzer.Keyword),
    FieldSpec("title", Analyzer.TextStop),
    FieldSpec("first_author", Analyzer.KeywordFold),
    FieldSpec("author", Analyzer.Text),
    FieldSpec("first_page", Analyzer.KeywordFold),
    FieldSpec("journal", Analyzer.TextStop),
    FieldSpec("abbreviated_journal", Analyzer.KeywordFold),
    FieldSpec("volume", Analyzer.KeywordFold),
    FieldSpec("issue", Analyzer.KeywordFold),
    FieldSpec("year", Analyzer.KeywordFold),
    FieldSpec("query", Analyzer.Text),
    FieldSpec("bibliographic", Analyzer.TextStop))

  def fieldDir(indexDir: String, field: String): String =
    s"$indexDir/field=$field"

  val FinalStep = "fields_done"

  /** Complete AND current-format (see [[PostingsBuilder.isComplete]]). */
  def isComplete(indexDir: String): Boolean = {
    val steps = new TableIO(indexDir).committedSteps()
    steps.contains(FinalStep) &&
      steps.contains(PostingsBuilder.FormatStep)
  }

  /** Normalize a field column to array<string> (ES: every field is
    * implicitly multi-valued): arrays pass through, scalars wrap, non-string
    * scalars stringify (the reference stores `year` as text via
    * fmt.Sprint, publication.go:196). */
  private[graft] def valsCol(df: DataFrame, field: String): Column =
    df.schema(field).dataType match {
      case ArrayType(StringType, _) => col(field)
      case StringType => array(col(field))
      case _ => array(col(field).cast("string"))
    }

  /** Committed view of (doc_id, key): base doc_map + active streamed
    * segments' doc_map — the fielded twin of [[IndexTables.docMap]]
    * (identical storage model at the TOP manifest). */
  def docMap(spark: SparkSession, indexDir: String): DataFrame =
    IndexTables.docMap(spark, new TableIO(indexDir))

  /** Build the fielded index over `docs` for every mapped field present in
    * the schema. `keyCol` is the external doc identity carried into
    * doc_map (the ES `_id`); duplicate keys collapse last-write-wins in
    * input order (the ES bulk `"index"`-action overwrite,
    * elastic/elastic.go:165-167). `docMapKeyName` overrides the doc_map
    * output column name when the input key column is already an internal
    * alias (the compaction rebuild path). */
  def build(spark: SparkSession, docs: DataFrame, indexDir: String,
            fields: Seq[FieldSpec], keyCol: String,
            cfg: PostingsBuilder.Config = PostingsBuilder.Config(),
            docMapKeyName: String = null): TableIO = {
    graft.streaming.Compactor.finishInterruptedSwap(indexDir)
    val io = new TableIO(indexDir)
    // codec-format guard at the TOP manifest: a fielded index cached from an
    // older block format wipes wholesale (the sub-builds' own markers never
    // re-run once the field_* steps are committed here)
    PostingsBuilder.ensureFormat(io)
    val present = fields.filter(f => docs.columns.contains(f.field))
    val fieldSteps = present.map(f => s"field_${f.field}")
    val done = io.committedSteps()
    if ((fieldSteps :+ "doc_map").forall(done.contains)) {
      // crash window: every member step committed but the final marker
      // didn't — stamp it rather than looking incomplete forever
      if (!done.contains(FinalStep)) io.commitStep(FinalStep)
      return io
    }

    // one staging pass pins doc identity for every sub-index (DocIds
    // tag/resolve protocol: ids derive from the persisted _mid, safe under
    // AQE replanning / resume). The key rides under the internal `_key`
    // alias so a key column that is ALSO a mapped field (the usual case:
    // DOI) cannot collide with the field's array-normalized column under
    // Spark's case-insensitive resolution.
    io.step("docs") {
      DocIds.tag(docs.select(col(keyCol).as("_key") +: present.map(f =>
        valsCol(docs, f.field).as(f.field)): _*))
        .write.mode("overwrite").parquet(io.tablePath("docs"))
    }
    // last-write-wins per key on arrival order (_mid order == input order):
    // later duplicates overwrite earlier ones, like the ES doc-id
    // overwrite. Materialized ONCE: every field sub-build and doc_map read
    // the winners as a plain narrow scan — without this table each of the
    // 12 field builds would re-run the LWW window, i.e. 12 corpus-sized
    // shuffles for one logical pass. (The raw `docs` table keeps the
    // losers + _mid: compaction folds epochs from it.)
    io.step("docs_lww") {
      val rawStaged = spark.read.parquet(io.tablePath("docs"))
      val resolved = DocIds.resolveWith(rawStaged, DocIds.offsets(rawStaged))
      val w = Window.partitionBy(col("_key")).orderBy(col("doc_id").desc)
      resolved
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1).drop("_rn")
        .write.mode("overwrite").parquet(io.tablePath("docs_lww"))
    }
    val staged = spark.read.parquet(io.tablePath("docs_lww"))

    io.stepProps("doc_map") {
      staged.select(col("doc_id"),
          col("_key").as(Option(docMapKeyName).getOrElse(keyCol)))
        .write.mode("overwrite").parquet(io.tablePath("doc_map"))
      // TOP-manifest max_doc_id property: fielded streamed ingest reads the
      // next free id from the manifest instead of scanning doc_map per
      // micro-batch. The max ASSIGNED id always survives the LWW window
      // (within a key group the winner IS the highest doc_id), so the max
      // over the winners equals the top of the id space. −1 = empty corpus.
      Map("max_doc_id" -> IndexTables.maxDocId(staged, default = -1L).toString)
    }

    // per-field sub-indexes build CONCURRENTLY — independent directories,
    // independent manifests; each is itself resumable and step-overlapped
    io.stepsPar(present.map { f =>
      s"field_${f.field}" -> { () =>
        val cleaned = filter(col(f.field),
          v => v.isNotNull && v =!= lit(""))
        val corpus = staged
          .select(col("doc_id"), cleaned.as("vals"))
          .where(size(col("vals")) > 0)
        PostingsBuilder.build(spark, corpus, fieldDir(indexDir, f.field),
          cfg, docTermFn = TextIndex.fieldDocTermFreqs(_, f.chain))
        ()
      }
    }: _*)
    io.commitStep(FinalStep)
    io
  }

  /** Resident serving handles ([[Searcher.Handle]]), one per (index,
    * sorted field set) — the serving-node model. SNAPSHOT-AWARE: an entry
    * carries its fields' manifest snapshot tokens, so a streamed ingest or
    * a compaction of any member field (both advance the manifest)
    * transparently reopens the handle on next access (the Lucene reopen
    * model; the superseded handle retires). The staleness check is one tiny
    * file read per field. An entry opened on a SparkContext that has since
    * stopped, or that is not the caller's, is stale too: it reopens, and a
    * stopped context's entry is dropped (its cached shards died with it). */
  private val handles = new java.util.concurrent.ConcurrentHashMap[
    (String, Seq[String]), (String, Searcher.Handle)]()

  /** Superseded handles are NOT closed inline: other threads may have
    * queries in flight on them (concurrent serving shares handles), and
    * close() unpersists the shard RDD under those queries — an evicted
    * partition would then recompute against the post-swap directory,
    * violating the Handle snapshot contract. Instead a superseded handle
    * parks here and is closed only after a grace period comfortably longer
    * than any query (queries are sub-second; the window is 60 s). Memory is
    * bounded: at most the handles superseded within the last minute — under
    * steady serving that is 0-1 per compaction. */
  private val retiredHandles =
    new java.util.concurrent.ConcurrentLinkedQueue[(Long, AutoCloseable)]()
  private val RetireGraceMs = 60000L

  private def drainRetired(): Unit = {
    val now = System.currentTimeMillis()
    var e = retiredHandles.peek()
    while (e != null && now - e._1 > RetireGraceMs) {
      if (retiredHandles.remove(e)) e._2.close()
      e = retiredHandles.peek()
    }
  }

  /** The resident handle over one field (its shard maps key bare terms). */
  def handleFor(spark: SparkSession, indexDir: String,
                field: String): Searcher.Handle =
    handleFor(spark, indexDir, Seq(field))

  /** The resident handle over `fields` (order and repeats ignored). */
  def handleFor(spark: SparkSession, indexDir: String,
                fields: Seq[String]): Searcher.Handle = {
    val fs = fields.distinct.sorted
    // the TOKEN, not the id: a compaction swap resets the id sequence and
    // the fresh directory's id can collide with the cached one
    val token = fs.map(f =>
      new TableIO(fieldDir(indexDir, f)).snapshotToken().getOrElse(""))
      .mkString("|")
    val sc = spark.sparkContext
    drainRetired()
    handles.compute((indexDir, fs), (_, cur) =>
      if (cur != null && cur._1 == token && (cur._2.spark.sparkContext eq sc))
        cur
      else {
        if (cur != null && !cur._2.spark.sparkContext.isStopped)
          retiredHandles.add((System.currentTimeMillis(), cur._2))
        (token, Searcher.open(spark, fs.map(f => f -> fieldDir(indexDir, f))))
      })._2
  }

  /** ES match-query against one field: analyze with the field's chain,
    * BM25 over the field's sub-index with the FIELD's stats. Returns
    * (qid, rnk, doc_id, score_x6). */
  def searchField(spark: SparkSession, indexDir: String, spec: FieldSpec,
                  rawQueries: Seq[(Int, String)], k: Int): DataFrame =
    Searcher.search(handleFor(spark, indexDir, spec.field), rawQueries, k,
      Analyzer.analyzeChain(spec.chain, _))

  /** ES match_phrase against one field: the phrase analyzes with the
    * field's chain keeping tokenizer positions (stopword gaps preserved,
    * so a phrase cannot bridge a dropped stopword, and multi-valued fields
    * cannot match across values — the position_increment_gap the index
    * stored). Returns (qid, rnk, doc_id, score_x6). */
  def phraseMatch(spark: SparkSession, indexDir: String, spec: FieldSpec,
                  rawQueries: Seq[(Int, String)], k: Int): DataFrame =
    Searcher.phraseSearch(handleFor(spark, indexDir, spec.field), rawQueries,
      k, Analyzer.analyzeChainPos(spec.chain, _))

  /** ES span_near against one field: the text analyzes with the field's
    * chain and its surviving tokens become the span_term clauses; a doc
    * matches where an alignment fits in `slop` extra positions — ordered
    * when `inOrder` (the default), anchored-minimal-window when not
    * (per-query slop; bridging the multi-value position_increment_gap
    * costs ≥ gap — same contract as phrases). Returns
    * (qid, rnk, doc_id, score_x6). */
  def spanNear(spark: SparkSession, indexDir: String, spec: FieldSpec,
               rawQueries: Seq[(Int, String, Int)], k: Int,
               inOrder: Boolean = true): DataFrame =
    Searcher.spanNearSearch(handleFor(spark, indexDir, spec.field),
      rawQueries, k, Analyzer.analyzeChain(spec.chain, _), inOrder)

  /** ES term-query against one field (exact match under the field's chain,
    * filter context): (term, doc_id) for each analyzed value. */
  def termQuery(spark: SparkSession, indexDir: String, spec: FieldSpec,
                values: Seq[String]): DataFrame =
    Searcher.termDocs(handleFor(spark, indexDir, spec.field),
      values.flatMap(v => Analyzer.analyzeChain(spec.chain, v)))

  /** Analyzed term → query-occurrence weight under the field's chain (a
    * repeated query term contributes once per occurrence, as in Lucene).
    * The single definition keeps the kernel paths and their naive
    * rank-identity twins weighting queries identically. */
  private[graft] def termWeights(spec: FieldSpec, text: String): Map[String, Int] =
    Analyzer.analyzeChain(spec.chain, text)
      .groupBy(identity).view.mapValues(_.length).toMap

  /** An ES scored query as a tree: the bool family the reference's clients
    * post (Biblio-Glutton sends a bool/should of per-field matches), which
    * [[query]] alone lowers to the bool kernel. A compound node holds
    * leaves only: the kernel serves one bool level. */
  sealed trait Query
  object Query {
    /** ES match: `text` analyzed with the field's chain, BM25 under the
      * field's stats, times `boost`. `and` is `operator: and` (every
      * analyzed term required), a top-level form only. */
    final case class Match(spec: FieldSpec, text: String, boost: Double = 1.0,
                           and: Boolean = false) extends Query
    /** ES match_phrase: exact adjacency under the field's chain, keeping
      * tokenizer positions (stopword gaps, the multi-value gap). */
    final case class Phrase(spec: FieldSpec, text: String) extends Query
    /** ES bool. `must` and `should` are scored Match/Phrase leaves; each
      * clause scores under its own field's stats and a hit's score is the
      * clause sum. `filter` (required) and `mustNot` (excluded) are
      * unscored term sets. `minShouldMatch` counts should clauses as ES
      * does: N ≥ 0 requires N, −N requires all but N (at least 0), and
      * unset is 0 with a must clause, else 1. */
    final case class Bool(must: Seq[Query] = Nil, should: Seq[Query] = Nil,
                          filter: Option[Terms] = None,
                          mustNot: Option[Terms] = None,
                          minShouldMatch: Option[Int] = None) extends Query
    /** ES dis_max (multi_match best_fields): a hit scores
      * max(leg) + tieBreaker · Σ(other legs), tieBreaker in [0, 1]. */
    final case class DisMax(queries: Seq[Query], tieBreaker: Double)
      extends Query
    /** Filter context (ES term / terms / range): docs holding any of
      * `values`, each analyzed with the field's chain. */
    final case class Terms(spec: FieldSpec, values: Seq[String])
  }

  /** Run a scored [[Query]] tree: the one place that analyzes its clauses,
    * opens the handle over every field they name, resolves ES's defaults
    * and calls the bool kernel ([[Searcher.multiSearch]]), one combined-
    * bound WAND walk with θ = the kth-best clause sum. Leg ids, and so the
    * kernel's FP sum order, are the match legs (must, then should), then
    * the phrase legs (must, then should). A top-level `and` match runs one
    * leg per distinct analyzed term, in term order, with
    * minimum_should_match = their count: the leg split changes only the
    * match requirement, not the score. Shapes the kernel cannot serve fail
    * with IllegalArgumentException before any job: a nested compound, an
    * `and` leaf below the top level, a boost that is not finite and > 0
    * (a zero boost would zero the leg's bounds but still count it for
    * minimum_should_match), a tie breaker outside [0, 1], a compound with
    * no scored clause (a filter-only bool is constant-score: use
    * [[termQuery]]), and more than 64 legs (the kernel's leg bitmask).
    * Returns (rnk, doc_id, score_x6) under the deterministic ordering. */
  def query(spark: SparkSession, indexDir: String, q: Query,
            k: Int): DataFrame = {
    import Query._
    def refuse(why: String): Nothing = throw new IllegalArgumentException(why)
    val (b, tieBreaker, and) = q match {
      case b: Bool => (b, -1.0, false)
      case DisMax(qs, tb) =>
        if (!(tb >= 0.0 && tb <= 1.0))
          refuse(s"dis_max tie_breaker must be in [0, 1], got $tb")
        (Bool(should = qs), tb, false)
      case m: Match => (Bool(should = Seq(m.copy(and = false))), -1.0, m.and)
      case p: Phrase => (Bool(should = Seq(p)), -1.0, false)
    }
    if (b.must.isEmpty && b.should.isEmpty)
      refuse("a bool or dis_max query needs ≥ 1 scored clause (a " +
        "filter/must_not-only bool is constant-score: use termQuery)")
    def leaves(qs: Seq[Query]): (Seq[Match], Seq[Phrase]) = {
      qs.foreach {
        case _: Bool | _: DisMax => refuse("a bool or dis_max clause must " +
          "be a match or match_phrase leaf: nested compounds are not served")
        case m: Match if m.and => refuse("operator=and is a top-level match " +
          "form: below it the terms would not all be required")
        case Match(_, _, boost, _) if !(boost > 0.0 && !boost.isInfinite) =>
          refuse(s"match boost must be finite and > 0, got $boost (a " +
            "zero boost would zero the leg's bounds but still count it for " +
            "minimum_should_match: drop the clause instead)")
        case _ =>
      }
      (qs.collect { case m: Match => m }, qs.collect { case p: Phrase => p })
    }
    val (mustM, mustP) = leaves(b.must)
    val (shouldM, shouldP) = leaves(b.should)
    val legs = (mustM ++ shouldM).flatMap { m =>
      val tw = termWeights(m.spec, m.text)
      if (and) tw.toSeq.sortBy(_._1).map { case (t, w) =>
        Searcher.MultiLeg(m.spec.field, Map(t -> w), m.boost) }
      else Seq(Searcher.MultiLeg(m.spec.field, tw, m.boost))
    }
    val phrases = (mustP ++ shouldP).map(p => Searcher.PhraseLeg(p.spec.field,
      Analyzer.analyzeChainPos(p.spec.chain, p.text)))
    if (legs.length + phrases.length > 64)
      refuse(s"a bool query takes at most 64 clauses (an and match one per " +
        s"distinct term), got ${legs.length + phrases.length}")
    val msm =
      if (and) legs.length
      else b.minShouldMatch match {
        case Some(n) if n >= 0 => n
        case Some(n) => math.max(0, b.should.length + n)
        case None => if (b.must.nonEmpty) 0 else 1
      }
    def analyzed(t: Terms): (String, Seq[String]) = (t.spec.field,
      t.values.flatMap(v => Analyzer.analyzeChain(t.spec.chain, v)))
    val fields = (mustM ++ shouldM).map(_.spec.field) ++
      (mustP ++ shouldP).map(_.spec.field) ++
      (b.filter ++ b.mustNot).map(_.spec.field)
    Searcher.multiSearch(handleFor(spark, indexDir, fields), legs, k, msm,
      filter = b.filter.map(analyzed), disMaxTieBreaker = tieBreaker,
      phraseLegs = phrases, mustNot = b.mustNot.map(analyzed),
      requiredLegs = mustM.indices ++ mustP.indices.map(legs.length + _))
  }

  // The three typed bool shapes below stay as one-line lowerings only
  // because `graft.Bench`, kept byte-identical, warms its handles with them.

  /** ES bool filter+must: a match scored in query context, top-k of the
    * docs passing a term filter on another field ([[query]]). Returns
    * (rnk, doc_id, score_x6). */
  def filteredMatch(spark: SparkSession, indexDir: String,
                    matchSpec: FieldSpec, matchText: String,
                    filterSpec: FieldSpec, filterValues: Seq[String],
                    k: Int): DataFrame =
    query(spark, indexDir, Query.Bool(should = Seq(Query.Match(matchSpec,
      matchText)), filter = Some(Query.Terms(filterSpec, filterValues))), k)

  /** ES bool/should multi-field match, the Biblio-Glutton pattern: docs
    * rank by the sum of per-field BM25 legs ([[query]]);
    * `minShouldMatch` legs must match. Returns (rnk, doc_id, score_x6). */
  def multiMatch(spark: SparkSession, indexDir: String,
                 legs: Seq[(FieldSpec, String)], k: Int,
                 minShouldMatch: Int = 1): DataFrame =
    query(spark, indexDir, Query.Bool(should = legs.map { case (s, t) =>
      Query.Match(s, t) }, minShouldMatch = Some(minShouldMatch)), k)

  /** ES bool/should of match legs and match_phrase clauses ([[query]]);
    * `minShouldMatch` counts phrase clauses too. Returns
    * (rnk, doc_id, score_x6). */
  def boolQuery(spark: SparkSession, indexDir: String,
                legs: Seq[(FieldSpec, String)],
                phraseLegs: Seq[(FieldSpec, String)], k: Int,
                minShouldMatch: Int = 1): DataFrame =
    query(spark, indexDir, Query.Bool(should = legs.map { case (s, t) =>
      Query.Match(s, t) } ++ phraseLegs.map { case (s, t) => Query.Phrase(s, t) },
      minShouldMatch = Some(minShouldMatch)), k)

  /** ES match with `fuzziness` against one field ([[Searcher.fuzzySearch]]
    * semantics: AUTO or explicit edits, full Damerau-Levenshtein,
    * max_expansions cap, boost-scaled per-expansion BM25 under the FIELD's
    * stats). Returns (qid, rnk, doc_id, score_x6). */
  def fuzzyMatch(spark: SparkSession, indexDir: String, spec: FieldSpec,
                 rawQueries: Seq[(Int, String)], k: Int,
                 fuzziness: Int = -1, maxExpansions: Int = 50): DataFrame =
    Searcher.fuzzySearch(handleFor(spark, indexDir, spec.field), rawQueries,
      k, Analyzer.analyzeChain(spec.chain, _), fuzziness, maxExpansions)

  /** ES exists query (field presence, filter context): all docs with ≥1
    * indexed token in the field — the doc set ES answers from its
    * FieldNamesField. Served as a two-slim-column projection of the
    * sub-index's doc_terms/doc_lens (column pruning reaches the parquet
    * scan; postings are never touched). Stays a distributed frame —
    * a field's presence set is corpus-sized at scale. */
  def existsQuery(spark: SparkSession, indexDir: String,
                  spec: FieldSpec): DataFrame = {
    import org.apache.spark.sql.functions.col
    IndexTables.docLens(spark, new TableIO(fieldDir(indexDir, spec.field)))
      .where(col("dl") > 0).select("doc_id")
  }

  /** ES `missing` aggregation: doc_count of corpus docs with NO value for
    * the field — the [[existsQuery]] complement (dl = 0 means every value
    * was empty/absent under the mapping). One anti-join of two slim
    * (doc_id)/(doc_id, dl) projections + a count — no corpus-sized
    * columns move. Returns one row (doc_count). */
  def missingAgg(spark: SparkSession, indexDir: String,
                 spec: FieldSpec): DataFrame =
    docMap(spark, indexDir).select(col("doc_id"))
      .join(existsQuery(spark, indexDir, spec), Seq("doc_id"), "left_anti")
      .agg(count(col("doc_id")).as("doc_count"))

  /** ES terms aggregation over a field: top-`size` terms by doc_count
    * (df desc, term asc — the ES tie-break), straight off the
    * pre-aggregated term_stats table (exact df — the ES agg is
    * shard-approximate by default; segment partials sum exactly here).
    * The agg never touches postings: at 10^12 docs this is a vocab-sized
    * scan + a size-bounded TakeOrdered, no corpus-sized work. */
  def termsAgg(spark: SparkSession, indexDir: String, spec: FieldSpec,
               size: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    IndexTables.termStats(spark, new TableIO(fieldDir(indexDir, spec.field)))
      .select(col("term"), col("df"))
      .orderBy(col("df").desc, col("term").asc).limit(size)
  }

  // ---- Multi-term queries (Lucene MultiTermQuery rewrites) ----------------
  //
  // ES range / prefix / wildcard queries rewrite to the set of dictionary
  // terms matching a predicate, then run as ordinary term queries (Lucene
  // MultiTermQuery; ES caps the set at indices.query.bool.max_clause_count).
  // The dictionary here is the sub-index's term_stats table — vocab-sized,
  // range-partitioned and sorted BY TERM at build with a numeric shadow
  // column, so prefix predicates prune on the string min/max stats and
  // numeric ranges on the shadow column's (the parquet-native analogue of
  // Lucene's FST seek / BKD tree). Collected rows are bounded by the
  // matching vocabulary slice, never the corpus.

  /** ES `indices.query.bool.max_clause_count` (the ES 7 default): the
    * hard ceiling on any multi-term rewrite's expansion. A wide range or
    * wildcard over a high-cardinality field (timestamps, DOIs) fails
    * LOUDLY at this bound — ES's too_many_clauses — instead of collecting
    * an unbounded vocabulary slice to the driver. */
  val MaxClauseCount = 1024

  /** The field's term_stats with the numeric shadow column guaranteed:
    * base indexes store it (format v4); streamed-segment union views lose
    * it in the df re-aggregation — derived on the fly there. The single
    * definition keeps the expansion and aggregation paths on one
    * shadow-column rule. */
  private def termStatsNum(spark: SparkSession, indexDir: String,
                           field: String): DataFrame = {
    val ts0 = IndexTables.termStats(spark,
      new TableIO(fieldDir(indexDir, field)))
    if (ts0.columns.contains("term_num")) ts0
    else ts0.withColumn("term_num", expr("try_cast(term AS BIGINT)"))
  }

  /** Terms of `field`'s dictionary matching `pred`, with exact global df,
    * in term order. EVERY call is capped — there is no uncapped driver
    * collect on any query path:
    *  - `truncate = true`: the deterministic max_expansions rule (term
    *    order, Lucene's rewrite collection order) — the first `max` terms.
    *  - `truncate = false`: the max_clause_count rule — an expansion
    *    wider than `max` throws ES's too_many_clauses loudly (the limit
    *    probe fetches max+1 rows, so the driver never materializes more
    *    than the cap either way). */
  private def expandDictionary(spark: SparkSession, indexDir: String,
      field: String, pred: Column, max: Int,
      truncate: Boolean): Seq[(String, Long)] = {
    require(max >= 0, "dictionary expansions must carry a cap")
    val matched = termStatsNum(spark, indexDir, field)
      .where(pred).orderBy("term")
    val rows = matched.limit(max + 1)
      .select("term", "df").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    if (rows.length <= max) rows
    else if (truncate) rows.take(max)
    else throw new IllegalArgumentException(
      s"too_many_clauses: multi-term query on field '$field' would expand " +
        s"to more than $max terms (max_clause_count). Narrow the " +
        "range/pattern, or serve the predicate from doc-values instead " +
        "of a term rewrite.")
  }

  /** ES numeric `range` query → matching dictionary terms (numeric
    * comparison on the parsed term value, the ES semantics for a numeric
    * field; non-numeric terms never match). Bounds: `gte`/`lte` inclusive,
    * `gt`/`lt` exclusive — any subset, like the ES body. Feed the result
    * to a [[Query.Bool]] filter ([[Query.Terms]]; the usual client shape,
    * `{"bool":{"filter":[{"range":{"year":{...}}}]}}`) or to
    * [[termQuery]]-style constant-score retrieval via [[rangeQuery]].
    * An empty expansion is an unsatisfiable filter — the kernel already
    * yields zero hits for a present-but-termless filter clause. */
  def rangeTerms(spark: SparkSession, indexDir: String, spec: FieldSpec,
                 gte: Option[Long] = None, lte: Option[Long] = None,
                 gt: Option[Long] = None, lt: Option[Long] = None,
                 maxClauseCount: Int = MaxClauseCount): Seq[String] = {
    require(gte.nonEmpty || lte.nonEmpty || gt.nonEmpty || lt.nonEmpty,
      "range query needs at least one bound")
    val v = col("term_num")
    val pred = Seq(
      Some(v.isNotNull),
      gte.map(v >= _), lte.map(v <= _),
      gt.map(v > _), lt.map(v < _)).flatten.reduce(_ && _)
    expandDictionary(spark, indexDir, spec.field, pred,
      maxClauseCount, truncate = false).map(_._1)
  }

  /** ES `range` as constant-score retrieval (filter context alone):
    * (term, doc_id) over the expanded terms, like [[termQuery]]. */
  def rangeQuery(spark: SparkSession, indexDir: String, spec: FieldSpec,
                 gte: Option[Long] = None, lte: Option[Long] = None,
                 gt: Option[Long] = None, lt: Option[Long] = None,
                 maxClauseCount: Int = MaxClauseCount): DataFrame =
    Searcher.termDocs(handleFor(spark, indexDir, spec.field),
      rangeTerms(spark, indexDir, spec, gte, lte, gt, lt, maxClauseCount))

  /** ES `prefix` query expansion: dictionary terms starting with the
    * analyzed prefix (ES prefix queries are term-level and unanalyzed;
    * this engine's term surface is analyzed — same convention as
    * [[termQuery]] — so clients pass surface forms). Term order; a
    * caller-passed `max` ≥ 0 is the ES max_expansions TRUNCATION rule
    * (first `max` terms); the default caps at [[MaxClauseCount]] and
    * fails loudly past it (too_many_clauses). Returns (term, df) so
    * scored rewrites can weight. */
  def prefixTerms(spark: SparkSession, indexDir: String, spec: FieldSpec,
                  prefix: String, max: Int = -1): Seq[(String, Long)] =
    Analyzer.analyzeChain(spec.chain, prefix).headOption match {
      case None => Seq.empty
      case Some(analyzed) => expandDictionary(spark, indexDir, spec.field,
        col("term").startsWith(analyzed),
        if (max >= 0) max else MaxClauseCount, truncate = max >= 0)
    }

  /** ES `prefix` query (constant-score, the ES rewrite): (term, doc_id)
    * over the expanded terms. */
  def prefixQuery(spark: SparkSession, indexDir: String, spec: FieldSpec,
                  prefix: String): DataFrame =
    Searcher.termDocs(handleFor(spark, indexDir, spec.field),
      prefixTerms(spark, indexDir, spec, prefix).map(_._1))

  /** ES `wildcard` query (constant-score): `*` = any run, `?` = any one
    * char, everything else literal. The translated anchored regex runs
    * over the vocab-sized dictionary scan (no pushdown for a mid-pattern
    * wildcard — exactly Lucene's automaton-walk cost class; a literal
    * prefix before the first wildcard WOULD prune, which is Lucene's
    * prefix-accelerated wildcard, left as the `startsWith` conjunct). */
  def wildcardQuery(spark: SparkSession, indexDir: String, spec: FieldSpec,
                    pattern: String): DataFrame = {
    val terms = Analyzer.analyzeChain(spec.chain, pattern).headOption match {
      case None => Seq.empty[String]
      case Some(analyzed) =>
        val rx = "^" + analyzed.flatMap {
          case '*' => ".*"
          case '?' => "."
          case c if "\\.[]{}()<>+-=!$^|".indexOf(c) >= 0 => "\\" + c
          case c => c.toString
        } + "$"
        // a literal prefix before the first wildcard prunes the sorted
        // dictionary (Lucene's prefix-accelerated wildcard)
        val litPrefix = analyzed.takeWhile(c => c != '*' && c != '?')
        val pred = if (litPrefix.nonEmpty)
          col("term").startsWith(litPrefix) && col("term").rlike(rx)
        else col("term").rlike(rx)
        expandDictionary(spark, indexDir, spec.field, pred,
          MaxClauseCount, truncate = false).map(_._1)
    }
    Searcher.termDocs(handleFor(spark, indexDir, spec.field), terms)
  }

  /** ES `regexp` query (constant-score): the pattern must match the WHOLE
    * term — ES/Lucene regexps are implicitly anchored, hence the
    * `^(?:…)$` wrap (the non-capturing group keeps a top-level `a|b`
    * alternation inside the anchors). Runs as an anchored regex over the
    * sorted-dictionary scan — the same cost class as Lucene's automaton
    * walk — with Lucene's literal-prefix acceleration: the longest
    * regex-literal prefix ([[regexLiteralPrefix]]) prunes the scan via
    * the dictionary's string min/max stats before the regex evaluates.
    * Expansion capped at [[MaxClauseCount]] (too_many_clauses), like
    * every multi-term rewrite. Returns (term, doc_id). */
  def regexpQuery(spark: SparkSession, indexDir: String, spec: FieldSpec,
                  pattern: String): DataFrame = {
    // the pattern normalizes through the field's chain so its LITERALS
    // match the lowercased index terms — but that would also fold an
    // uppercase escape class into its COMPLEMENT (\D → \d, \S → \s,
    // \W → \w, \P → \p, \B → \b), silently inverting the query's
    // meaning. Refuse those loudly; the lowercase classes express the
    // same predicates against an all-lowercase dictionary.
    var ei = 0
    var badEsc = false
    while (ei < pattern.length - 1) {
      if (pattern(ei) == '\\') { // a proper escape walk: "\\\\D" is fine
        if ("DSWPB".indexOf(pattern(ei + 1)) >= 0) badEsc = true
        ei += 2
      } else ei += 1
    }
    require(!badEsc,
      "regexp: uppercase escape classes (\\D \\S \\W \\P \\B) would invert " +
        "under the analyzer's lowercasing — use the lowercase classes " +
        "against the lowercased dictionary")
    val terms = Analyzer.analyzeChain(spec.chain, pattern).headOption match {
      case None => Seq.empty[String]
      case Some(analyzed) =>
        val rx = "^(?:" + analyzed + ")$"
        val litPrefix = regexLiteralPrefix(analyzed)
        val pred = if (litPrefix.nonEmpty)
          col("term").startsWith(litPrefix) && col("term").rlike(rx)
        else col("term").rlike(rx)
        expandDictionary(spark, indexDir, spec.field, pred,
          MaxClauseCount, truncate = false).map(_._1)
    }
    Searcher.termDocs(handleFor(spark, indexDir, spec.field), terms)
  }

  /** Longest prefix of `rx` every match must start with — the sound
    * dictionary-prune prefix. Conservative: empty when the pattern holds
    * a top-level-ambiguous `|` anywhere (an alternation's branches need
    * not share the prefix), stops at the first metacharacter or escape,
    * and excludes a literal whose NEXT char is a quantifier that can make
    * it optional (`*`, `?`, `{` — but `+` keeps it: one occurrence is
    * mandatory). */
  private[graft] def regexLiteralPrefix(rx: String): String = {
    if (rx.contains('|')) return ""
    val meta = ".?*+{}[]()\\^$"
    val b = new StringBuilder
    var i = 0
    var done = false
    while (i < rx.length && !done) {
      val c = rx(i)
      if (meta.indexOf(c.toInt) >= 0) done = true
      else {
        val nxt = if (i + 1 < rx.length) rx(i + 1) else 'a'
        if (nxt == '*' || nxt == '?' || nxt == '{') done = true
        else { b += c; i += 1 }
      }
    }
    b.result()
  }

  /** ES `match_phrase_prefix` against one field: analyze with the field's
    * chain keeping tokenizer positions, expand the LAST token by prefix
    * over the sub-index dictionary (term order, `maxExpansions` cap — ES
    * default 50), then run the MultiPhrase kernel (exact-occurrence slots
    * + a union last slot, Lucene MultiPhrasePrefixQuery semantics).
    * Returns (qid, rnk, doc_id, score_x6). */
  def matchPhrasePrefix(spark: SparkSession, indexDir: String,
                        spec: FieldSpec, rawQueries: Seq[(Int, String)],
                        k: Int, maxExpansions: Int = 50): DataFrame =
    Searcher.phrasePrefixSearch(
      handleFor(spark, indexDir, spec.field), rawQueries, k,
      Analyzer.analyzeChainPos(spec.chain, _),
      prefix => prefixTerms(spark, indexDir, spec, prefix, maxExpansions))

  // ---- Aggregations over index tables (ES aggs off pre-aggregated data) ---

  /** term_stats-based aggregations equate Σdf with doc_count, which is
    * exact ONLY for single-valued keyword chains (one term per doc). A
    * text-chain field (multi-token) would silently return value counts
    * labeled doc_count — refuse loudly instead. */
  private def requireSingleValued(spec: FieldSpec, agg: String): Unit =
    require(
      spec.chain == Analyzer.Keyword || spec.chain == Analyzer.KeywordFold,
      s"$agg aggregation requires a single-valued keyword field; " +
        s"'${spec.field}' uses multi-token chain '${spec.chain}' whose " +
        "term_stats df-sums count values, not documents")

  /** ES `histogram` aggregation over a single-valued numeric keyword field
    * (year/volume/issue — the reference's shapes): bucket =
    * floor(value/interval)·interval, doc_count per bucket. Served entirely
    * from term_stats — Σ df per bucket is exact for single-valued fields
    * (each doc contributes one value) — so the agg is a vocab-sized scan +
    * a bucket-count hash agg, no corpus-sized work at any scale. Returns
    * (bucket, doc_count) sorted by bucket (the ES histogram order). */
  def histogramAgg(spark: SparkSession, indexDir: String, spec: FieldSpec,
                   interval: Long): DataFrame = {
    require(interval > 0, "histogram interval must be positive")
    requireSingleValued(spec, "histogram")
    val ts = termStatsNum(spark, indexDir, spec.field)
    // floor-division bucketing in INTEGER arithmetic (x − x mod n, Euclidean
    // mod): no doubles anywhere, exact at any magnitude, negative values
    // land in the floor bucket like ES
    ts.where(col("term_num").isNotNull)
      .groupBy((col("term_num") - pmod(col("term_num"), lit(interval)))
        .as("bucket"))
      .agg(sum(col("df")).as("doc_count"))
      .orderBy("bucket")
  }

  /** ES `stats` aggregation over a single-valued numeric keyword field:
    * one row (value_count, min, max, sum, avg) — again a vocab-sized
    * term_stats scan (values weighted by df), never a corpus scan. */
  def statsAgg(spark: SparkSession, indexDir: String,
               spec: FieldSpec): DataFrame = {
    requireSingleValued(spec, "stats")
    termStatsNum(spark, indexDir, spec.field)
      .where(col("term_num").isNotNull)
      .agg(sum(col("df")).as("value_count"),
        min(col("term_num")).as("min_value"),
        max(col("term_num")).as("max_value"),
        sum(col("term_num") * col("df")).as("sum_value"))
      .withColumn("avg_value",
        col("sum_value").cast("double") / col("value_count"))
  }

  /** ES `range` aggregation over a single-valued numeric keyword field:
    * explicit [from, to) buckets (ES half-open semantics; None = open
    * end), doc_count per bucket — like [[histogramAgg]] a vocab-sized
    * term_stats scan, each bucket one predicate over (term_num, df), no
    * corpus work at any scale. Empty buckets emit doc_count 0 (the ES
    * contract: declared ranges always appear). Returns
    * (bucket_idx, from_v, to_v, doc_count) in declaration order; open
    * ends surface as NULL like the ES response omits them. */
  def rangeAgg(spark: SparkSession, indexDir: String, spec: FieldSpec,
               ranges: Seq[(Option[Long], Option[Long])]): DataFrame = {
    import spark.implicits._
    require(ranges.nonEmpty, "range aggregation needs at least one range")
    requireSingleValued(spec, "range")
    val ts = termStatsNum(spark, indexDir, spec.field)
      .where(col("term_num").isNotNull)
    // one job: the (tiny, declared) range table broadcast-joins the
    // vocab-sized stats scan; LEFT join back so empty buckets emit 0
    val rdf = ranges.zipWithIndex
      .map { case ((f, t), i) => (i.toLong, f, t) }
      .toDF("bucket_idx", "from_v", "to_v")
    val counts = ts.crossJoin(broadcast(rdf))
      .where((col("from_v").isNull || col("term_num") >= col("from_v")) &&
        (col("to_v").isNull || col("term_num") < col("to_v")))
      .groupBy(col("bucket_idx")).agg(sum(col("df")).as("doc_count"))
    rdf.join(counts, Seq("bucket_idx"), "left")
      .select(col("bucket_idx"), col("from_v"), col("to_v"),
        coalesce(col("doc_count"), lit(0L)).as("doc_count"))
      .orderBy("bucket_idx")
  }

  /** ES `percentiles` aggregation over a single-valued numeric keyword
    * field, EXACT: Spark's `percentile` aggregate with the term_stats
    * `df` column as the frequency weight — linear interpolation over the
    * value distribution without expanding to doc rows, so the agg is
    * vocab-sized work like every term_stats agg (ES itself serves
    * t-digest APPROXIMATIONS at this shape; the exact form is the
    * oracle-checkable one, and `percentile_approx` is the documented
    * corpus-scale swap). Returns (pct_x6, value_x6) per requested
    * percentile, declaration order. */
  def percentilesAgg(spark: SparkSession, indexDir: String, spec: FieldSpec,
                     percents: Seq[Double] = Seq(0.01, 0.05, 0.25, 0.5,
                       0.75, 0.95, 0.99)): DataFrame = {
    require(percents.nonEmpty && percents.forall(p => p >= 0 && p <= 1),
      "percentiles must lie in [0, 1]")
    requireSingleValued(spec, "percentiles")
    val pArr = percents.map(p => s"${p}D").mkString(", ")
    val vals = termStatsNum(spark, indexDir, spec.field)
      .where(col("term_num").isNotNull)
      .agg(expr(s"percentile(term_num, array($pArr), df)").as("vs"))
      .select(posexplode(col("vs")).as(Seq("i", "v")))
    vals.select(
        element_at(typedlit(percents.map(p => math.round(p * 1e6))),
          col("i") + 1).as("pct_x6"),
        TextIndex.microRound(col("v")).as("value_x6"))
      .orderBy("pct_x6")
  }

  /** ES `percentile_ranks`, exact form (the [[percentilesAgg]] inverse):
    * for each probe value, the percent of field values ≤ it —
    * 100 · Σ df[term_num ≤ v] / Σ df, df-weighted off the vocab-sized
    * term_stats scan (one pass computes every probe's cumulative weight —
    * no doc-row expansion at any scale). ES itself serves t-digest
    * interpolations here; this is the exact cumulative-weight form, the
    * same documented swap as percentilesAgg. Returns (value, rank_x6) by
    * value ascending. */
  def percentileRanksAgg(spark: SparkSession, indexDir: String,
                         spec: FieldSpec, values: Seq[Long]): DataFrame = {
    require(values.nonEmpty, "percentile_ranks needs ≥ 1 probe value")
    requireSingleValued(spec, "percentile_ranks")
    val ts = termStatsNum(spark, indexDir, spec.field)
      .where(col("term_num").isNotNull)
    val les = array(values.map(v =>
      sum(when(col("term_num") <= v, col("df")).otherwise(0L))): _*)
    ts.agg(les.as("les"), sum(col("df")).as("tot"))
      .select(col("tot"), posexplode(col("les")).as(Seq("i", "le")))
      .select(
        element_at(typedlit(values), col("i") + 1).as("value"),
        TextIndex.microRound(
          (lit(100.0) * col("le")) / col("tot")).as("rank_x6"))
      .orderBy("value")
  }

  /** Parsed form of an ES `simple_query_string` body (the subset of its
    * flagged syntax clients actually type): bare token = optional (should)
    * clause, leading `+` = required (must) clause, leading `-` = excluded
    * term (must_not), `"..."` = match_phrase clause (optionally
    * `+`-required). Negated phrases are rejected loudly rather than
    * silently over-excluding. */
  final case class SimpleQuery(must: Seq[String], should: Seq[String],
                               mustPhrases: Seq[String],
                               shouldPhrases: Seq[String],
                               mustNot: Seq[String]) {
    /** This query over one field: `+` terms and phrases must, bare ones
      * should, `-` terms must_not. */
    def tree(spec: FieldSpec): Query.Bool = Query.Bool(
      must = must.map(Query.Match(spec, _)) ++
        mustPhrases.map(Query.Phrase(spec, _)),
      should = should.map(Query.Match(spec, _)) ++
        shouldPhrases.map(Query.Phrase(spec, _)),
      mustNot = Option.when(mustNot.nonEmpty)(Query.Terms(spec, mustNot)))
  }

  private[graft] def parseSimpleQuery(q: String): SimpleQuery = {
    val must = Seq.newBuilder[String]; val should = Seq.newBuilder[String]
    val mp = Seq.newBuilder[String]; val sp = Seq.newBuilder[String]
    val not = Seq.newBuilder[String]
    var i = 0
    val len = q.length
    while (i < len) {
      while (i < len && q(i).isWhitespace) i += 1
      if (i < len) {
        var mod = ' '
        if (q(i) == '+' || q(i) == '-') { mod = q(i); i += 1 }
        if (i < len && q(i) == '"') {
          val end = q.indexOf('"', i + 1)
          val body = if (end < 0) q.substring(i + 1) else q.substring(i + 1, end)
          i = if (end < 0) len else end + 1
          mod match {
            case '-' => throw new IllegalArgumentException(
              "negated phrases are not supported in simple_query_string")
            case '+' => mp += body
            case _ => sp += body
          }
        } else if (i < len) {
          val start = i
          while (i < len && !q(i).isWhitespace) i += 1
          val word = q.substring(start, i)
          if (word.nonEmpty) mod match {
            case '-' => not += word
            case '+' => must += word
            case _ => should += word
          }
        }
      }
    }
    SimpleQuery(must.result(), should.result(), mp.result(), sp.result(),
      not.result())
  }

  /** ES `simple_query_string` against one field: the flagged syntax
    * ([[parseSimpleQuery]]) run as its [[SimpleQuery.tree]] by [[query]]
    * (default_operator OR, ES's minimum_should_match default). Returns
    * (rnk, doc_id, score_x6). */
  def simpleQueryString(spark: SparkSession, indexDir: String,
                        spec: FieldSpec, q: String, k: Int): DataFrame =
    query(spark, indexDir, parseSimpleQuery(q).tree(spec), k)

  /** ES `_count` (hit count without scoring): docs matching the analyzed
    * match query — distinct union of the terms' posting lists. Returns a
    * one-row (hits) frame; the count aggregates distributedly (TakeOrdered
    * of nothing — just a count over the postings union, never a collect
    * of doc ids). */
  def countQuery(spark: SparkSession, indexDir: String, spec: FieldSpec,
                 text: String): DataFrame = {
    val terms = Analyzer.analyzeChain(spec.chain, text).distinct.toSeq
    Searcher.termDocs(handleFor(spark, indexDir, spec.field), terms)
      .agg(countDistinct(col("doc_id")).as("hits"))
  }

  /** ES sort-by-field (`"sort":[{field: desc}]`) under a term filter:
    * the filter cohort's docs ordered by ANOTHER field's doc-value,
    * numerically when the value parses (the ES numeric-field contract),
    * doc_id as the deterministic tie-break. Shapes: the cohort (filter
    * postings) joins the sort field's slim doc-values projection on
    * doc_id, then a TakeOrdered of k rows — no scoring, no corpus-sized
    * sort at any scale. Returns (rnk, doc_id, sort_value). */
  def sortByField(spark: SparkSession, indexDir: String,
                  filterSpec: FieldSpec, filterValues: Seq[String],
                  sortSpec: FieldSpec, descending: Boolean,
                  k: Int): DataFrame = {
    val cohort = termQuery(spark, indexDir, filterSpec, filterValues)
      .select("doc_id").distinct()
    val vals = docValues(spark, indexDir, sortSpec.field)
      .withColumn("sort_value", expr("try_cast(value AS BIGINT)"))
      .where(col("sort_value").isNotNull)
    val ordered = cohort.join(vals, "doc_id")
      .orderBy(if (descending) col("sort_value").desc else col("sort_value").asc,
        col("doc_id").asc)
      .limit(k)
    ordered
      .withColumn("rnk", row_number().over(Window.orderBy(
        if (descending) col("sort_value").desc else col("sort_value").asc,
        col("doc_id").asc)).cast("long"))
      .select(col("rnk"), col("doc_id"), col("sort_value"))
  }

  /** ES `search_after` (cursor pagination): the k hits strictly AFTER the
    * cursor (score_x6, doc_id) under the deterministic ordering — the ES
    * guidance for paging past max_result_window, because cost stays k per
    * page at ANY depth instead of growing with from+size. Served from the
    * match's distributed score list with the cursor as a filter before a
    * TakeOrdered — no corpus-sized sort, no deep window. (A kernel-side
    * variant would thread an acceptance predicate through the WAND walk —
    * the θ pruning itself is unaffected by an upper score cutoff since a
    * high-bound block can still hold qualifying lower-scored docs; the
    * score-list path is exact and the shape ES itself pays.) Returns
    * (rnk, doc_id, score_x6) with rnk 1..k WITHIN the page (ES returns no
    * absolute ranks for search_after). */
  def searchAfter(spark: SparkSession, indexDir: String, spec: FieldSpec,
                  text: String, k: Int, afterScoreX6: Long,
                  afterDocId: Long): DataFrame =
    rankTop(scoresX6(handleFor(spark, indexDir, spec.field),
        termWeights(spec, text))
      .where(col("score_x6") < afterScoreX6 ||
        (col("score_x6") === afterScoreX6 && col("doc_id") > afterDocId)), k)

  /** A match's (doc_id, score_x6) list: [[Searcher.scores]] micro-rounded. */
  private def scoresX6(h: Searcher.Handle, tw: Map[String, Int]): DataFrame =
    Searcher.scores(h, tw)
      .select(col("doc_id"), TextIndex.microRound(col("score")).as("score_x6"))

  /** The deterministic top-k cut of a scored relation: its best `k` rows by
    * (score_x6 desc, doc_id asc) as one TakeOrdered, numbered `rnk` 1..k (a
    * long), as (rnk, doc_id, `extraCols`…, score_x6). Lazy: nothing runs
    * until the frame does. Every relational shape ranks through it. */
  private[graft] def rankTop(scored: DataFrame, k: Int,
      extraCols: String*): DataFrame = {
    val order = Seq(col("score_x6").desc, col("doc_id").asc)
    scored.orderBy(order: _*).limit(k)
      .withColumn("rnk", row_number().over(Window.orderBy(order: _*)).cast("long"))
      .select((Seq("rnk", "doc_id") ++ extraCols :+ "score_x6").map(col): _*)
  }

  /** An open ES scroll context ([[FieldedIndex.scroll]]): deep, snapshot-
    * consistent export of a match's FULL ordering, page by page. The
    * context OWNS a private [[Searcher.Handle]] opened at scroll time — a
    * handle IS a snapshot of the index at open time (the Lucene
    * IndexReader model), so pages stay consistent even if an ingest or
    * compaction swaps the directory mid-scroll, exactly like an ES scroll
    * holding its segments. The handle is private, NOT the serving cache's
    * ([[handleFor]]): the cache retires superseded handles on a 60 s
    * grace, which a long bulk export can outlive — the scroll context
    * must control its own lifetime (ES scroll keep-alive), closing on
    * exhaustion or [[Scroll.close]]. Residency mechanism: open
    * materializes the shard indexes into a persisted MEMORY_AND_DISK RDD,
    * so later pages never re-read the (possibly swapped-away) files —
    * the one failure mode is lineage replay after executor loss, which
    * fails loudly like an expired ES scroll context (spec-pinned:
    * FieldedSpec rebuilds the directory mid-scroll). The match is scored
    * once (page 1 persists the frozen score list — see [[Scroll.next]]);
    * each page is one cursor-filtered TakeOrdered(pageSize) over it —
    * CONSTANT per page at any depth (never from+size), the property that
    * makes scroll the bulk-export path. `snapshotToken` is the pinned
    * manifest uuid (the ES scroll_id analogue). */
  final class Scroll private[index] (h: Searcher.Handle,
      tw: Map[String, Int], pageSize: Int, val snapshotToken: String)
      extends AutoCloseable {
    private var after: Option[(Long, Long)] = None
    private var exhausted = tw.isEmpty
    private var closed = false
    private var scored: DataFrame = null
    def hasMore: Boolean = !exhausted

    /** Release the pinned snapshot (idempotent; ES DELETE _search/scroll).
      * Called automatically once the walk exhausts. */
    def close(): Unit = {
      exhausted = true
      if (!closed) {
        closed = true
        if (scored != null) scored.unpersist(blocking = false)
        h.close()
      }
    }
    if (exhausted) close() // analyzer dropped every term: born-empty scroll

    /** Next page: (rnk within page 1.., doc_id, score_x6), at most
      * pageSize rows (ES returns no absolute ranks on cursor pages);
      * empty once the match is exhausted. The match is SCORED EXACTLY
      * ONCE: page 1 materializes the (doc_id, score_x6) list — 16 B/hit,
      * persisted MEMORY_AND_DISK, the frozen ordering an ES scroll
      * context holds — and every page is a cursor-filtered
      * TakeOrdered(pageSize) over the persisted list, so a deep export
      * costs one scoring pass + pages × top-k, never pages × re-scores. */
    def next(): Seq[(Long, Long, Long)] = {
      if (exhausted) { close(); return Seq.empty }
      if (scored == null)
        scored = scoresX6(h, tw)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val filtered = after match {
        case Some((s6, d)) =>
          scored.where(col("score_x6") < s6 ||
            (col("score_x6") === s6 && col("doc_id") > d))
        case None => scored
      }
      val rows = rankTop(filtered, pageSize).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      if (rows.length < pageSize) close()
      rows.lastOption.foreach { case (_, d, s6) => after = Some((s6, d)) }
      rows
    }
  }

  /** Open an ES scroll over a match query ([[Scroll]] semantics). */
  def scroll(spark: SparkSession, indexDir: String, spec: FieldSpec,
             text: String, pageSize: Int): Scroll = {
    require(pageSize > 0, "scroll page size must be positive")
    val token =
      new TableIO(fieldDir(indexDir, spec.field)).snapshotToken().getOrElse("")
    new Scroll(Searcher.open(spark, fieldDir(indexDir, spec.field)),
      termWeights(spec, text), pageSize, token)
  }

  /** ES pagination (`from`/`size`): hits at absolute ranks
    * (from, from + size] of the match query's full ordering — ES computes
    * the top from+size and slices, which is exactly what the WAND top-k
    * with k = from + size does; rnk stays the ABSOLUTE rank (ES hit
    * positions). Deep paging costs grow with from+size — the ES
    * index.max_result_window reality — so callers requiring deep scans
    * should stream the posting tables instead. Returns (qid, rnk, doc_id,
    * score_x6). */
  def searchFieldPaged(spark: SparkSession, indexDir: String, spec: FieldSpec,
                       rawQueries: Seq[(Int, String)], from: Int,
                       size: Int): DataFrame = {
    require(from >= 0 && size > 0, "from ≥ 0, size > 0")
    searchField(spark, indexDir, spec, rawQueries, from + size)
      .where(col("rnk") > from)
  }

  /** ES `top_hits` sub-aggregation under a `terms` bucketing: the top
    * `size` hits of a match query WITHIN each bucket of another field
    * (relevance-ranked group leaders — the "best doc per year" shape).
    * Execution: the match's distributed per-doc score list (bounded by
    * the query terms' postings, never the corpus) joins the bucket
    * field's doc-values projection on doc_id, then one window ranks
    * within buckets — hash-partitioned by bucket term, so each year
    * cohort ranks in parallel and nothing corpus-sized serializes.
    * Returns (term, rnk, doc_id, score_x6) by term asc, rnk asc. */
  def topHitsAgg(spark: SparkSession, indexDir: String,
                 bucketSpec: FieldSpec, matchSpec: FieldSpec,
                 matchText: String, size: Int): DataFrame = {
    val scores = scoresX6(handleFor(spark, indexDir, matchSpec.field),
      termWeights(matchSpec, matchText))
    val w = Window.partitionBy(col("term"))
      .orderBy(col("score_x6").desc, col("doc_id").asc)
    scores.join(docValues(spark, indexDir, bucketSpec.field)
        .withColumnRenamed("value", "term"), Seq("doc_id"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= size)
      .select(col("term"), col("rnk"), col("doc_id"), col("score_x6"))
      .orderBy(col("term").asc, col("rnk").asc)
  }

  /** ES `rescore` with a match_phrase rescore query: the top
    * `windowSize` hits of the base match re-rank by
    * queryWeight · base + rescoreWeight · phrase (docs outside the window
    * are never rescored — the ES window contract; with k ≤ windowSize
    * they also never surface). Execution: the base's distributed score
    * list is cut to the window by the usual deterministic ordering, then
    * the phrase contributions (positions machinery) LEFT-join in —
    * phrase-missing docs keep their base score. Both component scores
    * stay raw doubles until the final micro-round, mirroring Lucene's
    * QueryRescorer float combine. Returns (rnk, doc_id, score_x6). */
  def rescorePhrase(spark: SparkSession, indexDir: String, spec: FieldSpec,
                    matchText: String, phraseText: String, k: Int,
                    windowSize: Int, queryWeight: Double = 1.0,
                    rescoreWeight: Double = 1.0): DataFrame = {
    require(k <= windowSize, "k beyond the rescore window would mix " +
      "rescored and unrescored ranks — ES appends unrescored tail hits; " +
      "serve that shape with searchFieldPaged past the window instead")
    val h = handleFor(spark, indexDir, spec.field)
    val base = Searcher.scores(h, termWeights(spec, matchText))
      .select(col("doc_id"), col("score").as("base_score"),
        TextIndex.microRound(col("score")).as("score_x6"))
    // window cut as a distributed TakeOrdered — a global row_number window
    // would route the whole match-sized score list through ONE task
    val windowed = rankTop(base, windowSize, "base_score")
    val phrase = Searcher.phraseContribs(h,
      Analyzer.analyzeChainPos(spec.chain, phraseText))
      .withColumnRenamed("contrib", "phrase_score")
    val combined = windowed.join(phrase, Seq("doc_id"), "left")
      .withColumn("score",
        col("base_score") * lit(queryWeight) +
          coalesce(col("phrase_score"), lit(0.0)) * lit(rescoreWeight))
      .select(col("doc_id"), TextIndex.microRound(col("score")).as("score_x6"))
    rankTop(combined, k)
  }

  /** ES `_explain`: why a document scores what it scores for a match
    * query — one row per query term PRESENT in the doc, with the full
    * BM25 decomposition (tf, df, dl, idf, tfNorm, contribution), all
    * value components micro-rounded for exact cross-engine compare. The
    * Σ of contrib_x6's raw doubles micro-rounds to exactly the hit score
    * the search paths serve (same Bm25 calls, same FP order). `key` is
    * the external doc identity (the ES _id). Returns
    * (term, weight, tf, df, dl, idf_x6, tf_norm_x6, contrib_x6) in term
    * order; an absent key or a doc matching no term explains to zero
    * rows (ES returns matched=false). */
  def explainMatch(spark: SparkSession, indexDir: String, spec: FieldSpec,
                   text: String, key: String): DataFrame = {
    val dm = docMap(spark, indexDir)
    val keyCol = dm.columns.filter(_ != "doc_id").head
    val ids = dm.filter(col(keyCol) === key)
      .select(col("doc_id")).collect()
    if (ids.isEmpty) // matched=false: unknown _id → zero rows, full schema
      return spark.range(0)
        .select(lit("").as("term"), lit(0).as("weight"),
          lit(0L).as("tf"), lit(0L).as("df"), lit(0L).as("dl"),
          lit(0L).as("idf_x6"), lit(0L).as("tf_norm_x6"),
          lit(0L).as("contrib_x6"))
    Searcher.explainDoc(handleFor(spark, indexDir, spec.field),
        termWeights(spec, text), ids.head.getLong(0))
      .select(col("term"), col("weight"),
        col("tf"), col("df"), col("dl"),
        TextIndex.microRound(col("idf")).as("idf_x6"),
        TextIndex.microRound(col("tf_norm")).as("tf_norm_x6"),
        TextIndex.microRound(col("contrib")).as("contrib_x6"))
      .orderBy("term")
  }

  /** ES `boosting` query: hits of the positive match, score ×
    * `negativeBoost` for docs ALSO matching the negative query (ES demotes
    * instead of excluding — `must_not` is the exclusion shape). The
    * negative side is membership only (its score never matters — the ES
    * contract), so it joins as a distinct doc set: positive's distributed
    * score list LEFT-joined to negative-match ids, row-local demotion,
    * TakeOrdered(k). Returns (rnk, doc_id, score_x6). */
  def boostingQuery(spark: SparkSession, indexDir: String,
                    posSpec: FieldSpec, posText: String,
                    negSpec: FieldSpec, negText: String,
                    negativeBoost: Double, k: Int): DataFrame = {
    require(negativeBoost >= 0 && negativeBoost <= 1,
      "negative_boost must be in [0, 1]")
    val pos = Searcher.scores(handleFor(spark, indexDir, posSpec.field),
      termWeights(posSpec, posText))
    val negTerms = termWeights(negSpec, negText).keys.toSeq
    val neg = Searcher.termDocs(handleFor(spark, indexDir, negSpec.field),
        negTerms)
      .select(col("doc_id")).distinct().withColumn("_neg", lit(1))
    rankTop(pos.join(neg, Seq("doc_id"), "left")
      .select(col("doc_id"), TextIndex.microRound(
        when(col("_neg").isNotNull, col("score") * lit(negativeBoost))
          .otherwise(col("score"))).as("score_x6")), k)
  }

  /** ES `match_bool_prefix` (the search-as-you-type query): the analyzed
    * tokens become a bool/should — every token but the LAST is a scored
    * term clause (BM25 under the field's stats, repeated tokens weighting
    * like any match), the last is a `prefix` clause. The prefix clause
    * scores as Lucene's constant-score multi-term rewrite: +1.0 for any
    * doc posting ANY of its ≤ maxExpansions dictionary expansions (term
    * order, the Lucene collection order), never idf — so typing the next
    * character can only refine, not reshuffle, the completed-term ranking.
    * bool/should is a UNION: a doc matching only the prefix still ranks
    * (at 1.0), and an absent full term just contributes nothing.
    *
    * Shape at scale: the scored side is the distributed per-doc score
    * list (no top-k before the union — a doc outside the term-leg top-k
    * can enter the final top-k via the +1.0), full-outer-joined on doc_id
    * with the prefix doc set, then one TakeOrdered(k). Same cost class as
    * [[boostingQuery]]/[[functionScore]] — corpus-sized exchange only for
    * corpus-sized matches. Returns (rnk, doc_id, score_x6). */
  def matchBoolPrefix(spark: SparkSession, indexDir: String, spec: FieldSpec,
                      text: String, k: Int,
                      maxExpansions: Int = 50): DataFrame = {
    val toks = Analyzer.analyzeChain(spec.chain, text)
    require(toks.nonEmpty, "match_bool_prefix: query analyzed to nothing")
    val full = toks.dropRight(1)
    val prefix = toks.last
    val h = handleFor(spark, indexDir, spec.field)
    val pdocs = Searcher.termDocs(h,
        prefixTerms(spark, indexDir, spec, prefix, maxExpansions).map(_._1))
      .select(col("doc_id")).distinct().withColumn("_p", lit(1.0))
    val scored =
      if (full.isEmpty) pdocs.select(col("doc_id"), col("_p").as("score"))
      else {
        val tw = full.groupBy(identity).view.mapValues(_.length).toMap
        Searcher.scores(h, tw).withColumnRenamed("score", "qscore")
          .join(pdocs, Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            (coalesce(col("qscore"), lit(0.0)) +
              coalesce(col("_p"), lit(0.0))).as("score"))
      }
    rankTop(scored.select(col("doc_id"),
      TextIndex.microRound(col("score")).as("score_x6")), k)
  }

  /** ES `more_like_this` with `like` = one indexed document: fetch the
    * source doc's term vector (ONE nested-pruned doc_terms row — the ES
    * coordinating-node term-vector fetch, compaction-gated like every
    * doc-values read), select representative terms the Lucene MLT way —
    * keep terms with tf ≥ minTermFreq and df ≥ minDocFreq, rank by
    * tf·idf (micro-rounded, ties by term — deterministic across engines),
    * keep the top maxQueryTerms — then run them as a bool/should of term
    * clauses through the combined-bound WAND kernel (one leg per term, so
    * minimum_should_match counts distinct matched terms; ES expresses the
    * 30%-default the same way). The source doc itself is excluded from
    * the hits (ES include=false default): the kernel fetches k+1 and the
    * driver renumbers after dropping it. A selection that filters to
    * nothing returns zero rows (ES: no terms, no hits). Returns
    * (rnk, doc_id, score_x6). */
  def moreLikeThis(spark: SparkSession, indexDir: String, spec: FieldSpec,
                   key: String, k: Int, minTermFreq: Int = 2,
                   minDocFreq: Int = 5, maxQueryTerms: Int = 25,
                   minShouldMatchPct: Int = 30): DataFrame = {
    val dm = docMap(spark, indexDir)
    val keyCol = dm.columns.filter(_ != "doc_id").head
    val ids = dm.filter(col(keyCol) === key).select(col("doc_id")).collect()
    require(ids.nonEmpty, s"more_like_this: unknown _id $key")
    val srcId = ids.head.getLong(0)
    requireCompacted(indexDir, "more_like_this term-vector fetch")
    val tv: Array[(String, Long)] = spark.read
      .parquet(s"${fieldDir(indexDir, spec.field)}/doc_terms")
      .filter(col("doc_id") === srcId)
      .select(explode(col("tfs")).as("e"))
      .select(col("e.term"), col("e.tf").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val h = handleFor(spark, indexDir, spec.field)
    val dfByTerm = Searcher.termDfs(h, tv.map(_._1))
    val n = h.stats.n_docs
    val selected: Array[String] = tv.iterator.collect {
      case (t, tf) if tf >= minTermFreq &&
          dfByTerm.getOrElse(t, 0L) >= minDocFreq =>
        (t, math.round(tf * Bm25.idf(n, dfByTerm(t)) * 1e6))
    }.toArray.sortBy { case (t, sx6) => (-sx6, t) }
      .take(maxQueryTerms).map(_._1)
    if (selected.isEmpty)
      return spark.range(0).select(col("id").as("rnk"),
        col("id").as("doc_id"), col("id").as("score_x6"))
    val msm = math.max(1, selected.length * minShouldMatchPct / 100)
    val legs = selected.toSeq.map(t =>
      Searcher.MultiLeg(spec.field, Map(t -> 1)))
    rankTop(Searcher.multiSearch(h, legs, k + 1, minShouldMatch = msm)
      .filter(col("doc_id") =!= srcId), k)
  }

  /** One ES function_score function. Field-based functions require a
    * single-valued keyword field (same contract as the term_stats aggs —
    * refuse loudly otherwise). */
  sealed trait ScoreFunction
  object ScoreFunction {
    /** ES field_value_factor: factor · modifier(value); docs missing the
      * field use `missing`. Modifiers follow ES: "none", "log1p"
      * (log10(1+v) — ES logs are COMMON logarithms), "sqrt". */
    final case class FieldValueFactor(field: FieldSpec, factor: Double,
        modifier: String = "none", missing: Double = 1.0)
      extends ScoreFunction
    /** ES gauss decay on a numeric field:
      * exp(−max(0, |v−origin|−offset)² / (2σ²)), σ² = −scale²/(2·ln decay);
      * docs missing the field decay to 1.0 (the ES contract). */
    final case class Gauss(field: FieldSpec, origin: Double, scale: Double,
        offset: Double = 0.0, decay: Double = 0.5) extends ScoreFunction
    /** ES weight: a constant function value. */
    final case class Weight(weight: Double) extends ScoreFunction
    /** ES script_score, Spark-native: the "script" is a Column expression
      * over `_score` (the query score) and `field("name")` doc values —
      * compiled into the same codegen plan as every other function (a
      * Painless interpreter would be a per-row black box; a Column IS the
      * engine's script language). Fields referenced must be declared in
      * `fields` so their doc-values projections join in. */
    final case class Script(expr: Column, fields: Seq[FieldSpec] = Seq.empty)
      extends ScoreFunction
  }

  /** The query score column inside a [[ScoreFunction.Script]]. */
  def scriptScore: Column = col("qscore")

  /** A field's doc value inside a [[ScoreFunction.Script]] (double; null
    * for docs missing the field — guard with coalesce in the script). */
  def scriptField(spec: FieldSpec): Column =
    col(s"_sv_${spec.field}")

  /** ES `function_score` over a match query: every matching doc's BM25
    * score is combined with the function values — functions can reorder
    * the ENTIRE match (a decay can sink the text-best hit), so the
    * re-rank runs over the full distributed score list, never a top-N
    * window (that would be `rescore`, a different ES operator). Function
    * values combine under `scoreMode` (multiply | sum | max | min | avg),
    * then meet the query score under `boostMode` (multiply | sum |
    * replace). Scale shape: one doc-sharded score list, LEFT-joined to
    * the needed fields' slim (doc_id, value) doc-values projections
    * (co-partitioned after one value-sized exchange), row-local function
    * math, TakeOrdered(k) — no corpus-sized window, no driver loop.
    * Returns (rnk, doc_id, score_x6). */
  def functionScore(spark: SparkSession, indexDir: String, spec: FieldSpec,
                    text: String, functions: Seq[ScoreFunction], k: Int,
                    scoreMode: String = "multiply",
                    boostMode: String = "multiply"): DataFrame = {
    require(functions.nonEmpty, "function_score needs at least one function")
    val h = handleFor(spark, indexDir, spec.field)
    var cur = Searcher.scores(h, termWeights(spec, text))
      .withColumnRenamed("score", "qscore")
    def joinValues(fs: FieldSpec, name: String): Unit = {
      requireSingleValued(fs, "function_score")
      val dv = docValues(spark, indexDir, fs.field)
        .select(col("doc_id"),
          expr("try_cast(value AS DOUBLE)").as(name))
      cur = cur.join(dv, Seq("doc_id"), "left")
    }
    val fcols = functions.zipWithIndex.map { case (f, i) =>
      val name = s"_f$i"
      f match {
        case ScoreFunction.Weight(w) =>
          cur = cur.withColumn(name, lit(w))
        case ScoreFunction.FieldValueFactor(fs, factor, modifier, missing) =>
          joinValues(fs, s"${name}_v")
          val v = coalesce(col(s"${name}_v"), lit(missing))
          val m = modifier match {
            case "none" => v
            case "log1p" => log(10.0, v + lit(1.0))
            case "sqrt" => sqrt(v)
            case other => throw new IllegalArgumentException(
              s"unknown field_value_factor modifier '$other'")
          }
          cur = cur.withColumn(name, lit(factor) * m).drop(s"${name}_v")
        case ScoreFunction.Gauss(fs, origin, scale, offset, decay) =>
          require(scale > 0 && decay > 0 && decay < 1,
            "gauss needs scale > 0 and decay in (0, 1)")
          joinValues(fs, s"${name}_v")
          val v = col(s"${name}_v")
          val sigma2 = -scale * scale / (2.0 * math.log(decay))
          val dist = greatest(abs(v - lit(origin)) - lit(offset), lit(0.0))
          cur = cur.withColumn(name,
            when(v.isNull, lit(1.0))
              .otherwise(exp(dist * dist / lit(-2.0 * sigma2))))
            .drop(s"${name}_v")
        case ScoreFunction.Script(scriptExpr, fieldSpecs) =>
          fieldSpecs.foreach { fs =>
            val c = s"_sv_${fs.field}"
            if (!cur.columns.contains(c)) joinValues(fs, c)
          }
          cur = cur.withColumn(name, scriptExpr.cast("double"))
      }
      col(name)
    }
    val fscore = scoreMode match {
      case "multiply" => fcols.reduce(_ * _)
      case "sum" => fcols.reduce(_ + _)
      case "avg" => fcols.reduce(_ + _) / lit(fcols.length.toDouble)
      case "max" => if (fcols.size == 1) fcols.head else greatest(fcols: _*)
      case "min" => if (fcols.size == 1) fcols.head else least(fcols: _*)
      case other => throw new IllegalArgumentException(
        s"unknown score_mode '$other'")
    }
    val combined = boostMode match {
      case "multiply" => col("qscore") * fscore
      case "sum" => col("qscore") + fscore
      case "replace" => fscore
      case other => throw new IllegalArgumentException(
        s"unknown boost_mode '$other'")
    }
    rankTop(cur.select(col("doc_id"),
      TextIndex.microRound(combined).as("score_x6")), k)
  }

  /** ES term suggester against one field (`suggest_mode: missing`, the
    * default): corrections for analyzed input terms absent from the
    * field's dictionary, AUTO edit budgets, Lucene DirectSpellChecker's
    * (distance, df desc, term asc) candidate order. Returns
    * (input, rnk, suggestion, df, distance). */
  def termSuggest(spark: SparkSession, indexDir: String, spec: FieldSpec,
                  text: String, size: Int): DataFrame =
    Searcher.termSuggest(handleFor(spark, indexDir, spec.field), text, size,
      Analyzer.analyzeChain(spec.chain, _))

  /** ES field collapsing (`collapse: {field}`): the top-k hits with at
    * most ONE hit per collapse-field value — per-group leader by
    * (score desc, doc_id asc), then the global top-k of leaders. The
    * match's bounded score list joins the collapse field's slim
    * doc-values projection; leaders come from a value-partitioned window
    * (groups rank in parallel); the final cut is a TakeOrdered — nothing
    * corpus-sized sorts. Returns (rnk, doc_id, collapse_value,
    * score_x6). */
  def collapseSearch(spark: SparkSession, indexDir: String,
                     matchSpec: FieldSpec, text: String,
                     collapseSpec: FieldSpec, k: Int): DataFrame = {
    val scores = scoresX6(handleFor(spark, indexDir, matchSpec.field),
      termWeights(matchSpec, text))
    val groupW = Window.partitionBy(col("collapse_value"))
      .orderBy(col("score_x6").desc, col("doc_id").asc)
    val leaders = scores
      .join(docValues(spark, indexDir, collapseSpec.field)
        .withColumnRenamed("value", "collapse_value"), Seq("doc_id"))
      .withColumn("grn", row_number().over(groupW))
      .where(col("grn") === 1)
    rankTop(leaders, k, "collapse_value")
  }

  /** ES highlighting (the plain-highlighter shape): re-analyze each stored
    * field VALUE of the top-k hits and wrap query-term tokens in
    * `<em>…</em>`, emitting only values containing a match (ES returns
    * matching fragments, not every value). Source text comes from the
    * index's staged `docs_lww` table (the _source analogue the build
    * already stages); the join is hit-sized on doc_id. Token matching is
    * the field chain's per-token normalization (lowercase for the text
    * chains — tokens are already whitespace-atomic, so the chain cannot
    * split them further). Returns (qid, rnk, doc_id, fragment). */
  def highlight(spark: SparkSession, indexDir: String, spec: FieldSpec,
                rawQueries: Seq[(Int, String)], k: Int): DataFrame = {
    // materialize the hit list first (k × queries rows — query-sized):
    // its doc_ids push into the source scan as an In filter evaluated at
    // the parquet reader (row groups whose doc_id stats exclude every hit
    // never decode), so fetching k fragments costs a filtered scan, not a
    // full-corpus explode + join against _source
    requireCompacted(indexDir, "highlighting (_source from docs_lww)")
    val hits = searchField(spark, indexDir, spec, rawQueries, k)
      .localCheckpoint(eager = true)
    val hitIds = hits.select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    if (hitIds.isEmpty)
      return hits.select(col("qid"), col("rnk"), col("doc_id"),
        lit("").as("fragment")).where(lit(false))
    val termsByQid = rawQueries.map { case (qid, q) =>
      qid -> Analyzer.analyzeChain(spec.chain, q).distinct.toSeq
    }
    val srcDf = spark.read.parquet(s"$indexDir/docs_lww")
      .where(col("doc_id").isInCollection(hitIds))
    val src = srcDf.select(col("doc_id"),
      explode(valsCol(srcDf, spec.field)).as("value"))
    // ONE hits⋈source join for every query (round 6): each hit row carries
    // its qid, so the per-query wrapping is a qid-selected CASE over the
    // same row instead of one join + union branch per query — row-identical
    // to the former per-qid frames (a hit has exactly one qid, and the
    // search above rejects a batch with a duplicate qid), with half
    // the codegen/stage count on multi-query highlights.
    val fragByQid = termsByQid.map { case (qid, terms) =>
      qid -> array_join(transform(split(col("value"), " "),
        t => when(lower(t).isin(terms: _*),
          concat(lit("<em>"), t, lit("</em>"))).otherwise(t)), " ")
    }
    val fragCol = fragByQid.tail.foldLeft(
      when(col("qid") === fragByQid.head._1, fragByQid.head._2)) {
      case (acc, (qid, w)) => acc.when(col("qid") === qid, w)
    }
    hits.join(src, "doc_id")
      .withColumn("fragment", fragCol)
      .where(col("fragment").contains("<em>"))
      .select(col("qid"), col("rnk"), col("doc_id"), col("fragment"))
      .orderBy("qid", "rnk", "fragment")
  }

  /** ES `significant_terms` aggregation: terms over-represented in a
    * foreground doc set vs the field's whole sub-corpus, scored with the
    * JLH heuristic (ES's default): (fgPct − bgPct) · (fgPct / bgPct).
    * Shapes: the foreground set (typically a query/filter cohort) joins
    * the field's slim doc-values projection — foreground-sized work;
    * background dfs come straight off the vocab-sized term_stats table;
    * the two totals are one count() each. Scores micro-rounded for exact
    * cross-engine comparison. Returns (term, fg_df, bg_df, score_x6) by
    * score desc, term asc, top `size`. */
  def significantTermsAgg(spark: SparkSession, indexDir: String,
                          spec: FieldSpec, fgDocs: DataFrame,
                          size: Int): DataFrame = {
    val fgSet = fgDocs.select("doc_id").distinct()
    val fgTotal = fgSet.count().toDouble
    val bgTotal = IndexTables.corpusStats(
      new TableIO(fieldDir(indexDir, spec.field))).n_docs.toDouble
    require(fgTotal > 0 && bgTotal > 0, "empty foreground or background")
    val fg = docValues(spark, indexDir, spec.field)
      .join(fgSet, "doc_id")
      .groupBy(col("value").as("term"))
      .agg(countDistinct(col("doc_id")).as("fg_df"))
    val bg = IndexTables.termStats(spark,
      new TableIO(fieldDir(indexDir, spec.field)))
      .select(col("term"), col("df").as("bg_df"))
    val fgPct = col("fg_df").cast("double") / lit(fgTotal)
    val bgPct = col("bg_df").cast("double") / lit(bgTotal)
    fg.join(bg, "term")
      .withColumn("score_x6",
        TextIndex.microRound((fgPct - bgPct) * (fgPct / bgPct)))
      .select(col("term"), col("fg_df"), col("bg_df"), col("score_x6"))
      .orderBy(col("score_x6").desc, col("term").asc)
      .limit(size)
  }

  /** Doc-values-backed operations (aggregations, sort, collapse,
    * highlighting _source) serve the COMPACTED base: streamed segments
    * stage raw rows whose doc_ids are derived at ingest, not persisted as
    * doc_terms/docs_lww, so these stores only advance at compaction. A
    * silent base-only answer would drop streamed docs from buckets and
    * skew foreground counts — fail loudly with the remedy instead.
    * (Search/match paths are NOT affected: postings segments are
    * visible immediately, the ES refresh analogue.) */
  private def requireCompacted(indexDir: String, what: String): Unit = {
    val batches = IndexTables.activeBatches(new TableIO(indexDir))
    require(batches.isEmpty,
      s"$what serves the compacted base, but streamed segments " +
        s"${batches.mkString("[", ",", "]")} are active — run " +
        "FieldedStreaming.compact (or Compactor) first; match/phrase/bool " +
        "search sees streamed docs immediately, doc-values operations at " +
        "compaction")
  }

  /** Per-doc field values: (doc_id, value) exploded from the sub-index's
    * doc_terms — the engine's doc-values column (nested-schema pruning
    * reads only the term subfield of the tfs arrays). Compaction-gated:
    * see [[requireCompacted]]. */
  private def docValues(spark: SparkSession, indexDir: String,
                        field: String): DataFrame = {
    requireCompacted(indexDir, s"doc-values read of '$field'")
    spark.read.parquet(s"${fieldDir(indexDir, field)}/doc_terms")
      .select(col("doc_id"), explode(col("tfs.term")).as("value"))
  }

  /** ES `terms` aggregation with a `cardinality` sub-aggregation (the
    * composed-agg staple: top terms of one field, distinct-count of
    * another within each bucket). Exact: two slim (doc_id, value)
    * doc-values projections joined on doc_id (both sides written
    * doc-sharded at build, so the join co-partitions after one exchange of
    * value-sized rows; the bucket field LEFT-joins so docs missing the
    * sub-agg field still count in doc_count, the ES contract), then a
    * two-distinct hash agg. ES's own cardinality is HLL-approximate; at
    * corpus scale swap countDistinct for approx_count_distinct (HLL++,
    * partial-aggregating — no second shuffle) — the exact form is the
    * oracle-checkable one. Returns (term, doc_count, cardinality) by
    * doc_count desc, term asc (the ES tie-break), top `size`. */
  def termsCardinalityAgg(spark: SparkSession, indexDir: String,
                          bucketSpec: FieldSpec, cardSpec: FieldSpec,
                          size: Int): DataFrame = {
    val buckets = docValues(spark, indexDir, bucketSpec.field)
    val sub = docValues(spark, indexDir, cardSpec.field)
      .withColumnRenamed("value", "sub_value")
    buckets.join(sub, Seq("doc_id"), "left")
      .groupBy(col("value").as("term"))
      .agg(countDistinct(col("doc_id")).as("doc_count"),
        countDistinct(col("sub_value")).as("cardinality"))
      .orderBy(col("doc_count").desc, col("term").asc)
      .limit(size)
  }

  /** ES `filter` aggregation with a numeric `stats` sub-aggregation
    * (`{filter: {term: …}, aggs: {stats: {field: …}}}`): the stats of
    * [[termsStatsAgg]] computed over only the docs matching a keyword term
    * filter (filter context — membership, never scores). The filter doc
    * set stays distributed (postings of a term are corpus-sized at scale)
    * and semi-joins the slim metric projection; ES always returns the
    * bucket, so an empty filter serves one row of doc_count 0 with NULL
    * stats. Returns (doc_count, m_count, m_min, m_max, m_sum,
    * m_avg_x6) — one row. */
  def filterStatsAgg(spark: SparkSession, indexDir: String,
                     filterSpec: FieldSpec, filterValues: Seq[String],
                     metricSpec: FieldSpec): DataFrame = {
    val allowed = termQuery(spark, indexDir, filterSpec, filterValues)
      .select(col("doc_id")).distinct()
    val metric = docValues(spark, indexDir, metricSpec.field)
      .select(col("doc_id"), expr("try_cast(value AS BIGINT)").as("m"))
      .filter(col("m").isNotNull)
    allowed.join(metric, Seq("doc_id"), "left")
      .agg(countDistinct(col("doc_id")).as("doc_count"),
        count(col("m")).as("m_count"),
        min(col("m")).as("m_min"),
        max(col("m")).as("m_max"),
        sum(col("m")).as("m_sum"),
        TextIndex.microRound(avg(col("m"))).as("m_avg_x6"))
  }

  /** ES `composite` aggregation — the SCALABLE bucket pagination API (ES's
    * own answer to deep terms-agg paging): buckets are the distinct value
    * TUPLES of the source fields (docs missing any source drop —
    * missing_bucket=false, the ES default), streamed in composite-key
    * order with an `after` cursor. Each page is one
    * inner-join-of-slim-projections + hash agg + key-ordered
    * TakeOrdered(size); the cursor is a row-local lexicographic predicate
    * pushed BELOW the aggregation (buckets past the page are never
    * ranked), so paging N buckets costs N/size bounded scans, never a
    * deep global sort — constant memory per page at any depth. Returns
    * (one column per source, doc_count) in key order. */
  def compositeAgg(spark: SparkSession, indexDir: String,
                   sources: Seq[FieldSpec], size: Int,
                   after: Option[Seq[String]] = None): DataFrame = {
    require(sources.nonEmpty, "composite aggregation needs ≥ 1 source")
    require(after.forall(_.length == sources.length),
      "after cursor must carry one value per source")
    val keyCols = sources.map(s => s"k_${s.field}")
    val joined = sources.zip(keyCols).map { case (s, kc) =>
      docValues(spark, indexDir, s.field).select(col("doc_id"),
        col("value").as(kc))
    }.reduce(_.join(_, Seq("doc_id")))
    // lexicographic "composite key > after": (k1 > a1) OR (k1 = a1 AND …)
    val paged = after match {
      case None => joined
      case Some(vals) =>
        val cond = keyCols.zip(vals).foldRight(lit(false): Column) {
          case ((kc, v), rest) =>
            (col(kc) > lit(v)) || (col(kc) === lit(v) && rest)
        }
        joined.filter(cond)
    }
    paged.groupBy(keyCols.map(col): _*)
      .agg(countDistinct(col("doc_id")).as("doc_count"))
      .orderBy(keyCols.map(col(_).asc): _*)
      .limit(size)
  }

  /** ES `terms` aggregation with a numeric `stats` SUB-aggregation (the
    * canonical bucket+metric composition: `{terms: {field: A}, aggs:
    * {stats: {field: B}}}`). Same two-slim-doc-values-projections shape as
    * [[termsCardinalityAgg]]: the bucket field LEFT-joins the metric so
    * docs missing the metric still count in doc_count (ES contract), and
    * the stats visit VALUES (multi-valued metrics contribute each value —
    * ES stats semantics). Metric values must parse as longs; unparseable
    * values are dropped exactly like missing fields (TRY_CAST on both
    * engines). count/min/max/sum stay exact integers; avg micro-rounds
    * (one division over an exact integer sum — bit-identical across
    * engines); an all-missing bucket serves NULL stats, the ES empty-stats
    * shape. Returns (term, doc_count, m_count, m_min, m_max, m_sum,
    * m_avg_x6) by doc_count desc, term asc, top `size`. */
  def termsStatsAgg(spark: SparkSession, indexDir: String,
                    bucketSpec: FieldSpec, metricSpec: FieldSpec,
                    size: Int): DataFrame = {
    val buckets = docValues(spark, indexDir, bucketSpec.field)
    val metric = docValues(spark, indexDir, metricSpec.field)
      .select(col("doc_id"),
        expr("try_cast(value AS BIGINT)").as("m")) // ANSI-safe: null, not throw
      .filter(col("m").isNotNull)
    buckets.join(metric, Seq("doc_id"), "left")
      .groupBy(col("value").as("term"))
      .agg(countDistinct(col("doc_id")).as("doc_count"),
        count(col("m")).as("m_count"),
        min(col("m")).as("m_min"),
        max(col("m")).as("m_max"),
        sum(col("m")).as("m_sum"),
        TextIndex.microRound(avg(col("m"))).as("m_avg_x6"))
      .orderBy(col("doc_count").desc, col("term").asc)
      .limit(size)
  }
}
