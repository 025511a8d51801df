package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.harness.RelQueries
import graft.text.TextOps

/** Physical-plan audit: the scale-critical plan properties asserted as
  * tests, so a regression that silently widens a scan, drops a pushdown,
  * or adds a shuffle to a zero-shuffle kernel fails the suite — not just
  * the benchmark. (This is `.explain("formatted")`-and-iterate, captured.) */
class PlanSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  // executedPlan only: the optimized logical plan prints each relation's
  // FULL schema, which would defeat column-pruning assertions
  private def planString(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def countExchanges(df: DataFrame): Int = {
    def walk(p: SparkPlan): Int = {
      val self = p match {
        case _: Exchange => 1
        case a: AdaptiveSparkPlanExec => return walk(a.executedPlan)
        case _ => 0
      }
      self + p.children.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }

  test("q_rel_agg pushes the shipdate filter and prunes to 5 columns") {
    val p = planString(RelQueries.relAgg(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"shipdate filter not pushed to the parquet scan:\n$p")
    // projection pruning: the scan must NOT read the unused money columns
    assert(p.contains("l_returnflag") && !p.contains("l_orderkey"),
      s"scan reads columns the query never uses:\n$p")
  }

  test("q_rel_join broadcasts the nation dim") {
    val p = planString(RelQueries.relJoin(spark, sf))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"nation dim not broadcast:\n$p")
  }

  test("row-local signature kernels are zero-shuffle up to presentation") {
    // fingerprint/simhash: one narrow projection per doc; the ONLY exchange
    // allowed is the final presentation orderBy's range partitioning
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    assert(countExchanges(TextOps.fingerprint(docs)) <= 1,
      "fingerprint gained a shuffle beyond the presentation sort")
    assert(countExchanges(Dedup.simHash(docs)) <= 1,
      "simHash gained a shuffle beyond the presentation sort")
    // and the kernels appear as native expressions (codegen'd), not UDFs
    val fp = planString(TextOps.fingerprint(docs))
    assert(fp.contains("graft_fingerprint") && !fp.contains("BatchEvalPython"),
      s"fingerprint is not the native kernel:\n$fp")
  }

  test("minhash signatures come from the one-pass kernel — no shingle explode before banding") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = planString(Dedup.minHashLshPairs(docs, 0.2))
    assert(p.contains("graft_minhash_sig"),
      s"minhash does not use the row-local signature kernel:\n$p")
    assert(!p.toLowerCase.contains("dense_rank"),
      s"a dictionary window crept back into the dedup path:\n$p")
  }

  test("DocIds.resolveWith stays in codegen — no ScalaUDF in the id projection") {
    import org.apache.spark.sql.functions._
    val staged = graft.index.DocIds.tag(
      spark.read.parquet(s"$sf/documents.parquet").select(col("text")))
    val resolved = graft.index.DocIds.resolve(staged, "doc_id")
    val p = planString(resolved)
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
      s"offset lookup fell out of codegen:\n$p")
    // and ids are still dense 0..n-1
    val ids = resolved.select("doc_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === (0L until ids.length).toSeq)
  }

  test("a field sub-build scans only its own column of the staged fielded docs") {
    import org.apache.spark.sql.functions._
    // stage a 3-field docs table the way FieldedIndex does, then check the
    // per-field corpus plan prunes the scan to (doc_id, that field): at 12
    // mapped fields a scan that read every array column would make each
    // sub-build pay the whole row width
    val dir = s"${sys.props("user.dir")}/target/plan-fielded"
    new graft.io.TableIO(dir).deleteAll()
    val df = spark.range(0, 100).select(col("id"),
      array(concat(lit("t"), col("id") % 5)).as("tags"),
      array(concat(lit("b"), col("id") % 7)).as("body"),
      array(concat(lit("x"), col("id"))).as("extra"))
    df.write.parquet(s"$dir/docs")
    val staged = spark.read.parquet(s"$dir/docs")
    val corpus = staged.select(col("id").as("doc_id"),
      filter(col("body"), v => v.isNotNull && v =!= lit("")).as("vals"))
      .where(size(col("vals")) > 0)
    val p = planString(
      graft.index.TextIndex.fieldDocTermFreqs(corpus, "text_stop"))
    assert(p.contains("body") && !p.contains("tags") && !p.contains("extra"),
      s"field corpus scan reads sibling field columns:\n$p")
  }

  test("docLens view prunes the doc_terms scan to (doc_id, dl)") {
    // build a tiny index, then check the projection reaches the scan
    val dir = s"${sys.props("user.dir")}/target/plan-idx"
    new graft.io.TableIO(dir).deleteAll()
    graft.index.PostingsBuilder.build(spark,
      spark.read.parquet(s"$sf/documents.parquet")
        .selectExpr("doc_id", "text"),
      dir, graft.index.PostingsBuilder.Config(shardSize = 256))
    val lens = graft.index.IndexTables.docLens(
      spark, new graft.io.TableIO(dir))
    val p = planString(lens)
    assert(p.contains("ReadSchema") && !p.contains("tfs"),
      s"docLens scan reads the fat tfs column:\n$p")
  }

  test("stratified sampler is a zero-shuffle scan-fused gate") {
    // the whole query is a row-local hash gate over the scan: presentation
    // sort aside, NO exchange may exist (the sample must never shuffle)
    val inner = graft.harness.PipelineQueries.sampleStratified(spark, sf)
    assert(countExchanges(inner) <= 1, // the orderBy itself
      s"sampler plan shuffles beyond the presentation sort:\n${planString(inner)}")
    val p = planString(inner)
    assert(p.contains("graft_poly_hash") || p.contains("polyHash") ||
      p.contains("PolyHash") || !p.contains("ScalaUDF"),
      s"sampler gate left codegen:\n$p")
  }

  test("repetition metrics are a zero-shuffle kernel pass up to presentation") {
    val df = graft.harness.PipelineQueries.qualityRepetition(spark, sf)
    assert(countExchanges(df) <= 1, // the orderBy itself
      s"repetition plan shuffles beyond the presentation sort:\n${planString(df)}")
    val p = planString(df)
    assert(p.contains("graft_rep_stats") && !p.contains("ScalaUDF"),
      s"repStats kernel left codegen:\n$p")
  }

  test("decontamination joins the eval grams by broadcast, never sort-merge") {
    val p = planString(graft.harness.PipelineQueries.decontaminate(spark, sf))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"eval gram set not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"decontamination fell back to a corpus-shuffling join:\n$p")
  }

  test("host rollup shares one url exchange and hash-aggregates with partials") {
    val df = graft.harness.WebQueries.webHost(spark, sf)
    // url windows (LWW rank + crawl count) share one exchange; host agg
    // adds one; presentation sort one — anything more is a regression
    assert(countExchanges(df) <= 3,
      s"host rollup gained shuffles:\n${planString(df)}")
    val p = planString(df)
    assert(p.contains("HashAggregate"),
      s"host rollup lost map-side partial aggregation:\n$p")
  }

  test("pack assignment uses the two-pass prefix sum, never one task per language") {
    val df = graft.harness.PipelineQueries.packBudget(spark, sf)
    val p = planString(df)
    // two windows: within-bucket (lang, bucket) + bucket offsets (lang over
    // bucket totals); the (lang)-only window must never see ROW-level data
    assert("Window".r.findAllIn(p).size >= 2,
      s"pack plan lost the two-pass structure:\n$p")
    assert(countExchanges(df) <= 5,
      s"pack plan has runaway shuffles:\n$p")
  }

  test("multi-term expansion pushes prefix/range predicates into the dictionary scan") {
    val idx = graft.harness.FieldedQueries.ensureFieldedIndex(spark)
    import org.apache.spark.sql.functions.col
    val ts = spark.read.parquet(s"$idx/field=DOI/term_stats")
      .where(col("term").startsWith("10.1/nd.99")).select("term", "df")
    val p = planString(ts)
    assert(p.contains("StringStartsWith"),
      s"prefix predicate not pushed to the term_stats scan:\n$p")
    // numeric-range path: the shadow column's range predicate reaches parquet
    val tn = spark.read.parquet(s"$idx/field=year/term_stats")
      .where(col("term_num").isNotNull && col("term_num") >= 1993L &&
        col("term_num") <= 1995L).select("term")
    val pn = planString(tn)
    assert(pn.contains("GreaterThanOrEqual(term_num,1993") &&
      pn.contains("LessThanOrEqual(term_num,1995"),
      s"numeric range not pushed onto the shadow column:\n$pn")
  }

  test("composite agg pushes the after-cursor below the aggregation") {
    val idx = graft.harness.FieldedQueries.ensureFieldedIndex(spark)
    def fs(f: String) =
      graft.index.FieldedIndex.CrossrefMapping.find(_.field == f).get
    val page = graft.index.FieldedIndex.compositeAgg(spark, idx,
      Seq(fs("year"), fs("volume")), 10, Some(Seq("1992", "30")))
    val p = planString(page)
    // the cursor is a row-local Filter evaluated BEFORE the hash agg (plan
    // prints top-down, so deeper = later): buckets past the page are never
    // built, let alone ranked — the constant-memory-per-page claim
    val aggAt = p.indexOf("HashAggregate")
    val filterAt = p.indexOf("1992")
    assert(aggAt >= 0 && filterAt > aggAt,
      s"after-cursor not evaluated below the aggregation:\n$p")
    // page ranking is a TakeOrdered of `size` buckets, never a global sort
    assert(p.contains("TakeOrderedAndProject"),
      s"composite page ranks through a global sort:\n$p")
  }

  test("match_bool_prefix unions through joins + TakeOrdered — no UDF, no sort") {
    val idx = graft.harness.FieldedQueries.ensureFieldedIndex(spark)
    def fs(f: String) =
      graft.index.FieldedIndex.CrossrefMapping.find(_.field == f).get
    val df = graft.index.FieldedIndex.matchBoolPrefix(spark, idx,
      fs("title"), "second 42 99", 10)
    val p = planString(df)
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
      s"bool_prefix fell off codegen:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"bool_prefix plans a cartesian:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"bool_prefix top-k is a global sort, not TakeOrdered:\n$p")
  }

  test("search_after ranks the kernel's score rows: no exchange or hash aggregate below its TakeOrdered") {
    val idx = graft.harness.FieldedQueries.ensureFieldedIndex(spark)
    val title = graft.index.FieldedIndex.CrossrefMapping.find(_.field == "title").get
    val df = graft.index.FieldedIndex.searchAfter(spark, idx, title,
      "second title 42", 10, Long.MaxValue, -1L)
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case _ => p +: p.children.flatMap(nodes)
    }
    val top = nodes(df.queryExecution.executedPlan)
      .collect { case t: TakeOrderedAndProjectExec => t }
    assert(top.length === 1, s"search_after has no single TakeOrdered:\n${planString(df)}")
    // a doc is one score row: nothing below the cut regroups or moves rows
    assert(!nodes(top.head).tail.exists(n =>
        n.isInstanceOf[Exchange] || n.isInstanceOf[HashAggregateExec]),
      s"search_after sums or shuffles its score rows:\n${planString(df)}")
  }

  test("doc-values projections prune the doc_terms scan to the term subfield") {
    val idx = graft.harness.FieldedQueries.ensureFieldedIndex(spark)
    val agg = graft.index.FieldedIndex.termsCardinalityAgg(spark, idx,
      graft.index.FieldedIndex.CrossrefMapping.find(_.field == "year").get,
      graft.index.FieldedIndex.CrossrefMapping.find(_.field == "volume").get,
      10)
    val p = planString(agg)
    // nested-schema pruning: the scans must read tfs.term only — the tf
    // (and positioned pos) subfields never leave parquet
    assert(p.contains("ReadSchema") && !p.contains("pos:") &&
      !p.contains("tf:int") && !p.contains("tf:bigint"),
      s"doc-values scan reads more than the term subfield:\n$p")
  }

  // ---- round-6 optimization pins -----------------------------------------

  test("bm25 scoring derives tf row-locally — no full-vocabulary aggregation") {
    val df = graft.harness.TextQueries.bm25QuerySet(spark, sf)
    val p = planString(df)
    // tf comes from the per-doc analyze kernel filtered to query terms;
    // the pre-round-6 plan aggregated the whole exploded token relation
    // (26 exchanges); regression bound with slack for planner drift
    assert(p.contains("graft_analyze_tf"),
      s"bm25 scoring no longer uses the row-local tf kernel:\n$p")
    assert(countExchanges(df) <= 12,
      s"bm25 scoring regained corpus-wide exchanges (${countExchanges(df)}):\n$p")
  }

  test("web df: codegen analyzer, row-local term dedup, ≤3 exchanges") {
    val df = graft.harness.WebQueries.webDf(spark, sf)
    val p = planString(df)
    assert(!p.contains("ScalaUDF"),
      s"web df analysis fell off codegen:\n$p")
    // url window + term agg + presentation sort; the pre-round-6 plan
    // added a corpus-wide distinct exchange
    assert(countExchanges(df) <= 3,
      s"web df regained shuffles (${countExchanges(df)}):\n$p")
  }
}
