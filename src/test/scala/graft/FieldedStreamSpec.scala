package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.Analyzer
import graft.index.{FieldedIndex, PostingsBuilder}
import graft.index.FieldedIndex.FieldSpec
import graft.io.TableIO
import graft.query.Searcher
import graft.streaming.FieldedStreaming

/** Streaming ingest + LWW compaction over the PER-FIELD index layout:
  * segment visibility, per-field stats merge, handle reopen on manifest
  * advance, replay idempotency, and cross-epoch last-write-wins. */
class FieldedStreamSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val fields = Seq(
    FieldSpec("tags", Analyzer.Keyword), FieldSpec("body", Analyzer.TextStop))
  private val cfg = PostingsBuilder.Config(shardSize = 16)
  private def root = s"${sys.props("user.dir")}/target/test-fielded-stream"

  private def docsDf(rows: Seq[(String, Seq[String], String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("k", "tags", "body")
  }

  // base: k000..k049; body "w<i%7> common"; tag "t<i%5>"
  private def baseRows = (0 until 50).map(i =>
    (f"k$i%03d", Seq(s"t${i % 5}"), s"w${i % 7} common"))
  // batch: 10 fresh keys + 5 re-crawls of k000..k004 with updated bodies
  private def batchRows =
    (100 until 110).map(i => (f"k$i%03d", Seq("fresh"), s"fresh f$i")) ++
    (0 until 5).map(i => (f"k$i%03d", Seq(s"t${i % 5}"), s"updated u$i"))

  private def bodyDocs(dir: String, term: String): Long =
    FieldedIndex.termQuery(spark, dir, fields(1), Seq(term)).count()

  private def scoresOf(dir: String, q: String): Seq[Long] =
    FieldedIndex.searchField(spark, dir, fields(1), Seq(1 -> q), 10)
      .collect().sortBy(_.getAs[Long]("rnk")).map(_.getAs[Long]("score_x6")).toSeq

  test("fielded ingest: segments visible per field, LWW compaction folds epochs") {
    new TableIO(root).deleteAll()
    val dir = s"$root/idx"
    FieldedIndex.build(spark, docsDf(baseRows), dir, fields, "k", cfg)

    // open handles BEFORE ingest — the snapshot-aware cache must reopen
    assert(bodyDocs(dir, "common") === 50L)
    assert(bodyDocs(dir, "fresh") === 0L)

    FieldedStreaming.ingestBatch(spark, docsDf(batchRows), dir, fields, "k", 0L, cfg)

    // append semantics: new + re-crawled docs visible, stale versions too
    assert(FieldedIndex.docMap(spark, dir).count() === 65L)
    assert(bodyDocs(dir, "fresh") === 10L)
    assert(bodyDocs(dir, "updated") === 5L)
    assert(bodyDocs(dir, "w0") === 8L) // k000's OLD body still present
    // per-field stats merged additively (N over the union)
    val bio = new TableIO(FieldedIndex.fieldDir(dir, "body"))
    assert(graft.index.IndexTables.corpusStats(bio).n_docs === 65L)
    assert(!Searcher.tightBoundsOf(bio)) // streamed appends ⇒ safe bounds

    // replay is a no-op (top marker committed)
    FieldedStreaming.ingestBatch(spark, docsDf(batchRows), dir, fields, "k", 0L, cfg)
    assert(FieldedIndex.docMap(spark, dir).count() === 65L)

    // score-identity with a one-shot fielded build over the same 65-doc
    // multiset (re-crawls get distinct synthetic keys: pre-compaction
    // streaming serves BOTH versions)
    val refRows = baseRows ++ batchRows.map { case (k, t, b) => (s"$k@1", t, b) }
    val refDir = s"$root/idx-ref"
    FieldedIndex.build(spark, docsDf(refRows), refDir, fields, "k", cfg)
    assert(scoresOf(dir, "common w3") === scoresOf(refDir, "common w3"))

    // crash window: retract the TOP step only (fields committed) — replay
    // must skip the finished fields and restore the batch atomically
    val io = new TableIO(dir)
    io.commit(io.committedSteps() - "stream_g0")
    FieldedStreaming.ingestBatch(spark, docsDf(batchRows), dir, fields, "k", 0L, cfg)
    assert(FieldedIndex.docMap(spark, dir).count() === 65L)

    // compact: LWW per key across epochs, fresh per-field tight bounds
    assert(FieldedStreaming.compact(spark, dir, fields, cfg))
    assert(FieldedIndex.docMap(spark, dir).count() === 60L)
    assert(bodyDocs(dir, "updated") === 5L)
    assert(bodyDocs(dir, "w0") === 7L) // stale k000 version folded away
    assert(bodyDocs(dir, "fresh") === 10L)
    assert(Searcher.tightBoundsOf(
      new TableIO(FieldedIndex.fieldDir(dir, "body"))))
    assert(graft.index.IndexTables.activeBatches(new TableIO(dir)).isEmpty)

    // post-compaction: replayed batch still no-ops (markers carried)
    FieldedStreaming.ingestBatch(spark, docsDf(batchRows), dir, fields, "k", 0L, cfg)
    assert(FieldedIndex.docMap(spark, dir).count() === 60L)

    // score-identity with a one-shot build over the folded corpus
    val lwwRows = batchRows ++ baseRows.filterNot(r =>
      batchRows.exists(_._1 == r._1))
    val refDir2 = s"$root/idx-ref2"
    FieldedIndex.build(spark, docsDf(lwwRows), refDir2, fields, "k", cfg)
    assert(scoresOf(dir, "common w3") === scoresOf(refDir2, "common w3"))
    assert(scoresOf(dir, "updated u2") === scoresOf(refDir2, "updated u2"))

    // streaming continues after compaction
    FieldedStreaming.ingestBatch(spark,
      docsDf(Seq(("k200", Seq("late"), "late arrival"))), dir, fields, "k", 7L, cfg)
    assert(FieldedIndex.docMap(spark, dir).count() === 61L)
    assert(bodyDocs(dir, "late") === 1L)
    // idempotent compact of the new epoch
    assert(FieldedStreaming.compact(spark, dir, fields, cfg))
    assert(!FieldedStreaming.compact(spark, dir, fields, cfg))
    assert(FieldedIndex.docMap(spark, dir).count() === 61L)
  }

  test("manifest max_doc_id: empty base ingests (no NPE), ids continue from the property") {
    val dir = s"$root/idx-empty"
    new TableIO(dir).deleteAll()
    // a complete-but-EMPTY fielded base (zero docs) is legal build output
    FieldedIndex.build(spark,
      docsDf(Seq.empty[(String, Seq[String], String)]), dir, fields, "k", cfg)
    val io = new TableIO(dir)
    assert(io.prop("max_doc_id") === Some("-1"))
    // first streamed batch into the empty base must ingest, not NPE on the
    // null max() aggregate
    FieldedStreaming.ingestBatch(spark,
      docsDf(Seq(("k000", Seq("t0"), "hello world"))), dir, fields, "k", 0L, cfg)
    assert(FieldedIndex.docMap(spark, dir).count() === 1L)
    assert(new TableIO(dir).prop("max_doc_id") === Some("0"))
    // second batch continues the id space from the manifest property alone
    FieldedStreaming.ingestBatch(spark,
      docsDf(Seq(("k001", Seq("t1"), "second doc"))), dir, fields, "k", 1L, cfg)
    val dm = FieldedIndex.docMap(spark, dir).collect()
      .map(r => r.getAs[String]("k") -> r.getAs[Long]("doc_id")).toMap
    assert(dm === Map("k000" -> 0L, "k001" -> 1L))
    assert(new TableIO(dir).prop("max_doc_id") === Some("1"))
    // compaction carries the property into the swapped-in manifest
    assert(FieldedStreaming.compact(spark, dir, fields, cfg))
    assert(new TableIO(dir).prop("max_doc_id") === Some("1"))
  }

  test("phrase queries see streamed segments and survive compaction") {
    val dir = s"$root/idx-phrase"
    new TableIO(dir).deleteAll()
    val base = Seq(("k000", Seq("t0"), "alpha beta gamma"))
    FieldedIndex.build(spark, docsDf(base), dir, fields, "k", cfg)
    def phraseDocs(q: String): Set[String] =
      FieldedIndex.phraseMatch(spark, dir, fields(1), Seq(1 -> q), 10)
        .join(FieldedIndex.docMap(spark, dir), "doc_id")
        .collect().map(_.getAs[String]("k")).toSet
    assert(phraseDocs("alpha beta") === Set("k000"))
    // a streamed batch's positions serve immediately (segment path)
    FieldedStreaming.ingestBatch(spark,
      docsDf(Seq(("k001", Seq("t1"), "delta alpha beta"))), dir, fields,
      "k", 0L, cfg)
    assert(phraseDocs("alpha beta") === Set("k000", "k001"))
    assert(phraseDocs("beta delta") === Set.empty) // not adjacent anywhere
    // ...and survive the compaction rebuild (fresh ids, re-encoded blocks)
    assert(FieldedStreaming.compact(spark, dir, fields, cfg))
    assert(phraseDocs("alpha beta") === Set("k000", "k001"))
    assert(phraseDocs("delta alpha") === Set("k001"))
  }

  test("multi-term expansion sees streamed segments (union term_stats path)") {
    // the segment-union term_stats view re-aggregates df and LOSES the
    // term_num shadow column — range/prefix expansion must derive it on
    // the fly and still see BOTH base and segment terms
    val dir = s"$root/idx-multiterm"
    new TableIO(dir).deleteAll()
    import spark.implicits._
    val nums = FieldSpec("num", Analyzer.KeywordFold)
    FieldedIndex.build(spark,
      Seq(("a", "100"), ("b", "200"), ("c", "300")).toDF("k", "num"),
      dir, Seq(nums), "k", cfg)
    FieldedStreaming.ingestBatch(spark,
      Seq(("d", "150"), ("e", "abc")).toDF("k", "num"),
      dir, Seq(nums), "k", 0L, cfg)
    assert(FieldedIndex.rangeTerms(spark, dir, nums,
      gte = Some(100L), lte = Some(200L)) === Seq("100", "150", "200"),
      "segment term invisible or non-numeric term leaked into the range")
    assert(FieldedIndex.prefixTerms(spark, dir, nums, "1").map(_._1) ===
      Seq("100", "150"))
    // and the df carried for a segment-only term is its union df
    assert(FieldedIndex.prefixTerms(spark, dir, nums, "15") ===
      Seq(("150", 1L)))
    // term_stats-served aggs are streaming-correct too (dfs re-aggregate)
    val hist = FieldedIndex.histogramAgg(spark, dir, nums, 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(hist === Map(100L -> 2L, 200L -> 1L, 300L -> 1L))
    // doc-values consumers serve the COMPACTED base only: streamed doc_ids
    // are derived at ingest, never persisted as doc_terms — a silent
    // base-only answer would drop doc "150" from buckets, so they refuse
    val e = intercept[IllegalArgumentException] {
      FieldedIndex.termsCardinalityAgg(spark, dir, nums, nums, 5).collect()
    }
    assert(e.getMessage.contains("compact"))
    FieldedStreaming.compact(spark, dir, Seq(nums), cfg)
    assert(FieldedIndex.termsCardinalityAgg(spark, dir, nums, nums, 5)
      .count() === 5L) // 100,150,200,300,abc — all post-compaction buckets
  }

  test("snapshot properties survive plain commits and merge on commitStep") {
    val io = new TableIO(s"$root/props")
    io.deleteAll()
    io.commitStep("a", Map("x" -> "1"))
    io.commitStep("b")
    assert(io.committedSteps() === Set("a", "b"))
    assert(io.prop("x") === Some("1"))
    io.commit(io.committedSteps() + "c")
    assert(io.prop("x") === Some("1"))
    io.commitStep("d", Map("x" -> "2", "y" -> "z 9"))
    assert(io.prop("x") === Some("2"))
    assert(io.prop("y") === Some("z 9")) // values may contain spaces
  }

  test("stepProps commits a step and its body's properties in one snapshot, once") {
    val io = new TableIO(s"$root/step-props")
    io.deleteAll()
    var runs = 0
    io.stepProps("s") { runs += 1; Map("x" -> "1") }
    assert(io.currentSnapshotId() === Some("0"))
    assert(io.committedSteps() === Set("s") && io.prop("x") === Some("1"))
    io.stepProps("s") { runs += 1; Map("x" -> "2") }
    assert(runs === 1 && io.prop("x") === Some("1"))
  }

  test("schema drift: a batch without a field column REPLACES the doc (field drops)") {
    import spark.implicits._
    val dir = s"$root/idx-drift"
    new TableIO(dir).deleteAll()
    val base = (0 until 10).map(i =>
      (f"k$i%03d", Seq(s"t${i % 5}"), s"w$i common"))
    FieldedIndex.build(spark, docsDf(base), dir, fields, "k", cfg)
    assert(FieldedIndex.termQuery(spark, dir, fields(0), Seq("t0")).count() === 2L)

    // re-crawl k000 with NO tags column at all (evolving crawl schema)
    val drifted = Seq(("k000", "replaced body")).toDF("k", "body")
    FieldedStreaming.ingestBatch(spark, drifted, dir, fields, "k", 0L, cfg)
    assert(FieldedStreaming.compact(spark, dir, fields, cfg))

    // ES "index"-action semantics: the re-crawl REPLACES the document —
    // its tags are gone, its body is the new one
    assert(FieldedIndex.docMap(spark, dir).count() === 10L)
    assert(FieldedIndex.termQuery(spark, dir, fields(0), Seq("t0")).count() === 1L)
    assert(bodyDocs(dir, "replaced") === 1L)
    assert(bodyDocs(dir, "w0") === 0L)
  }

  test("mapping evolution: a field first seen in a batch indexes at compaction") {
    import spark.implicits._
    val dir = s"$root/idx-newfield"
    new TableIO(dir).deleteAll()
    val notes = FieldedIndex.FieldSpec("notes", Analyzer.TextStop)
    val evolved = fields :+ notes
    val base = (0 until 8).map(i => (f"k$i%03d", Seq(s"t$i"), s"w$i"))
    // base built WITHOUT the notes field (not in the corpus yet)
    FieldedIndex.build(spark, docsDf(base), dir, evolved, "k", cfg)
    assert(!new java.io.File(FieldedIndex.fieldDir(dir, "notes")).exists())

    // a later crawl starts carrying notes: the batch ingests (notes has no
    // sub-index yet — its column is staged, not appended mid-stream)...
    val batch = Seq(("k100", Seq("fresh"), "fresh body", Seq("hello note")))
      .toDF("k", "tags", "body", "notes")
    FieldedStreaming.ingestBatch(spark, batch, dir, evolved, "k", 0L, cfg)
    assert(bodyDocs(dir, "fresh") === 1L) // mapped-and-built fields append
    // ...and the next compaction folds the column in and BUILDS the
    // notes sub-index — static-mapping evolution via rebuild
    assert(FieldedStreaming.compact(spark, dir, evolved, cfg))
    assert(PostingsBuilder.isComplete(FieldedIndex.fieldDir(dir, "notes")))
    assert(FieldedIndex.termQuery(spark, dir, notes, Seq("note")).count() === 1L)
    assert(bodyDocs(dir, "fresh") === 1L)
  }
}
