package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.Analyzer
import graft.index.{FieldedIndex, IndexTables, PostingsBuilder}
import graft.io.TableIO
import graft.streaming.{Compactor, FieldedStreaming, IncrementalIndexer}
import graft.web.{WebIndex, WebtextGen}

/** The postings format: every base block carries its term's exact global
  * df (the `term_stats` value, since v5), written at build and rewritten by
  * compaction; streamed segment blocks carry none; an index stamped with an
  * older format marker reads as incomplete and rebuilds (v6 keeps corpus
  * stats in the manifest, which a v5 directory lacks). */
class PostingsFormatSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def root = s"${sys.props("user.dir")}/target/test-idx/postings-format"
  private val cfg = PostingsBuilder.Config(shardSize = 256)

  private def docs(lo: Long, hi: Long): DataFrame = {
    import spark.implicits._
    spark.range(lo, hi, 1, 4).mapPartitions(_.map(i =>
      WebtextGen.rowFor(i, StreamSpec.Big))).toDF()
  }

  /** Base postings rows (groups below the streamed range) whose df differs
    * from the committed union term_stats df, or is missing. */
  private def dfMismatches(io: TableIO): Long = {
    val ts = IndexTables.termStats(spark, io).select(col("term"),
      col("df").as("ts_df"))
    IndexTables.postings(spark, io).where(col("group") < IndexTables.GroupBase)
      .join(ts, Seq("term"), "left")
      .where(col("df").isNull || col("ts_df").isNull || col("df") =!= col("ts_df"))
      .count()
  }

  test("base blocks carry the global df; segment blocks none; compaction rewrites it") {
    val dir = s"$root/stream"
    new TableIO(dir).deleteAll()
    WebIndex.build(spark, docs(0, 600), dir, cfg)
    val io = new TableIO(dir)
    assert(IndexTables.postings(spark, io).count() > 0)
    assert(dfMismatches(io) === 0)

    IncrementalIndexer.ingestBatch(spark, docs(600, 800), dir, 0L, cfg)
    val seg = IndexTables.postings(spark, io)
      .where(col("group") >= IndexTables.GroupBase)
    assert(seg.count() > 0)
    assert(seg.where(col("df").isNotNull).count() === 0)

    assert(Compactor.compact(spark, dir, cfg))
    val compacted = new TableIO(dir)
    assert(IndexTables.activeBatches(compacted).isEmpty)
    assert(IndexTables.postings(spark, compacted)
      .where(col("group") >= IndexTables.GroupBase).count() === 0)
    assert(dfMismatches(compacted) === 0)
  }

  /** An index whose manifest names only the `old` format marker reads as
    * incomplete, and the next build rebuilds it at the current format. */
  private def rebuildsFrom(old: String): Unit = {
    val dir = s"$root/old-format-$old"
    new TableIO(dir).deleteAll()
    WebIndex.build(spark, docs(0, 300), dir, cfg)
    assert(PostingsBuilder.isComplete(dir))
    val io = new TableIO(dir)
    io.commit(io.committedSteps() - PostingsBuilder.FormatStep + old)
    assert(!PostingsBuilder.isComplete(dir))

    WebIndex.build(spark, docs(0, 300), dir, cfg)
    val steps = new TableIO(dir).committedSteps()
    assert(steps.contains(PostingsBuilder.FormatStep))
    assert(!steps.contains(old))
    assert(PostingsBuilder.isComplete(dir))
    assert(dfMismatches(new TableIO(dir)) === 0)
    assert(IndexTables.corpusStats(new TableIO(dir)).n_docs === 300L)
  }

  test("a directory stamped only with format_pfor4 is incomplete and rebuilds") {
    rebuildsFrom("format_pfor4")
  }

  test("a directory stamped only with format_pfor5 is incomplete and rebuilds") {
    rebuildsFrom("format_pfor5")
  }

  test("corpus stats of a directory without stats properties name the rebuild") {
    // what a v5 directory's manifest holds: steps, max_doc_id, no stats
    val io = new TableIO(s"$root/no-stats")
    io.deleteAll()
    io.commit(Set("format_pfor5", "stats", PostingsBuilder.FinalStep),
      Map("max_doc_id" -> "299"))
    val e = intercept[IllegalStateException](IndexTables.corpusStats(io))
    assert(e.getMessage.contains("rebuild"))
    assert(e.getMessage.contains(PostingsBuilder.FormatStep))
  }

  test("ingest into a complete directory without max_doc_id names the rebuild") {
    // rewrites `dir`'s manifest with every step and property but max_doc_id
    def dropMaxDocId(dir: String): Unit = {
      val io = new TableIO(dir)
      val (steps, props) = (io.committedSteps(), io.props())
      assert(props.contains("max_doc_id"))
      val snap = java.nio.file.Paths.get(dir, "_snapshot")
      java.nio.file.Files.walk(snap).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
      io.commit(steps, props - "max_doc_id")
    }
    def refused(ingest: => Unit): Unit = {
      val e = intercept[IllegalStateException](ingest)
      assert(e.getMessage.contains("max_doc_id"))
      assert(e.getMessage.contains("rebuild"))
    }
    val dir = s"$root/no-max-doc-id"
    new TableIO(dir).deleteAll()
    WebIndex.build(spark, docs(0, 300), dir, cfg)
    dropMaxDocId(dir)
    assert(PostingsBuilder.isComplete(dir))
    refused(IncrementalIndexer.ingestBatch(spark, docs(300, 350), dir, 0L, cfg))

    val fielded = s"$root/no-max-doc-id-fielded"
    new TableIO(fielded).deleteAll()
    val title = FieldedIndex.FieldSpec("title", Analyzer.TextStop)
    def titles(lo: Int, hi: Int): DataFrame = {
      import spark.implicits._
      (lo until hi).map(i => (s"k$i", s"title $i")).toDF("k", "title")
    }
    FieldedIndex.build(spark, titles(0, 50), fielded, Seq(title), "k", cfg)
    dropMaxDocId(fielded)
    assert(FieldedIndex.isComplete(fielded))
    refused(FieldedStreaming.ingestBatch(spark, titles(50, 60), fielded,
      Seq(title), "k", 0L, cfg))
  }
}
