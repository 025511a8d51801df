package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.CachedBlocks
import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.Analyzer
import graft.index.{FieldedIndex, IndexTables, PostingsBuilder}
import graft.index.FieldedIndex.FieldSpec
import graft.io.TableIO
import graft.query.Searcher
import graft.streaming.FieldedStreaming

/** A handle over a base plus active streamed segments resolves, at open,
  * the global df of every key a segment holds, and serves each key's df
  * from that cache or, for a key no segment holds, from its base blocks.
  * On a small-shard index whose keys sit in every placement (base only,
  * segment only, base and segment in one shard, base and segment in
  * different shards) that rule gives every key its exact `term_stats` df,
  * and `search` and `phraseSearch` rank exactly as their unpruned twins
  * over [[FieldedNaive.contribs]] and [[Searcher.phraseContribs]], also
  * after every cached shard block was dropped. [[Searcher.scores]], the
  * score list of the relational shapes, gives each doc one row whose score
  * equals the twin's sum and every search hit's score, on that handle and
  * on a bare base's. */
class SegmentDfSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val body = FieldSpec("body", Analyzer.TextStop)
  private val cfg = PostingsBuilder.Config(shardSize = 8)
  private val k = 10

  private def docs(rows: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("k", "body")
  }

  // 44 base docs: the tail shard (ids 40..43) is partly filled, so the
  // first streamed docs continue it
  private val baseRows = (0 until 44).map(i =>
    (f"k$i%03d", s"common w${i % 7} alpha${i % 3} z$i"))
  // each batch: fresh keys plus re-crawls of base keys; the second batch
  // also re-crawls keys of the first
  private val batch0 = (100 until 110).map(i =>
    (f"k$i%03d", s"common w${i % 7} fresh f$i")) ++
    (0 until 4).map(i => (f"k$i%03d", s"common updated u$i w${i % 7}"))
  private val batch1 = (200 until 210).map(i =>
    (f"k$i%03d", s"fresh w${i % 7} common f$i")) ++
    (10 until 13).map(i => (f"k$i%03d", s"updated again u$i z$i")) ++
    (100 until 102).map(i => (f"k$i%03d", s"common recrawl f$i"))

  private lazy val dir: String = {
    val d = s"${sys.props("user.dir")}/target/test-idx/segment-df"
    new TableIO(d).deleteAll()
    FieldedIndex.build(spark, docs(baseRows), d, Seq(body), "k", cfg)
    FieldedStreaming.ingestBatch(spark, docs(batch0), d, Seq(body), "k", 0L, cfg)
    FieldedStreaming.ingestBatch(spark, docs(batch1), d, Seq(body), "k", 1L, cfg)
    FieldedIndex.fieldDir(d, body.field)
  }

  /** The base alone, with no streamed segment: a handle over it takes the
    * unshuffled open. */
  private lazy val bareDir: String = {
    val d = s"${sys.props("user.dir")}/target/test-idx/segment-df-bare"
    new TableIO(d).deleteAll()
    FieldedIndex.build(spark, docs(baseRows), d, Seq(body), "k", cfg)
    FieldedIndex.fieldDir(d, body.field)
  }

  private val chain = Analyzer.analyzeChain(Analyzer.TextStop, _: String)
  private val pos = Analyzer.analyzeChainPos(Analyzer.TextStop, _: String)

  // at most two distinct terms a query: a two-term sum is the same double
  // in either order, so the twin's unordered sum is exact
  private val queries = Seq(1 -> "common w3", 2 -> "alpha0", 3 -> "fresh",
    4 -> "updated w2", 5 -> "common", 6 -> "w5 fresh", 7 -> "alpha1 f103",
    8 -> "z11 u11", 9 -> "recrawl f100", 10 -> "zqxjv common")
  private val phrases = Seq(1 -> "common w3", 2 -> "alpha1 z4",
    3 -> "fresh f105", 4 -> "updated u2", 5 -> "w4 common", 6 -> "common recrawl",
    7 -> "again u11 z11", 8 -> "zqxjv common")

  private def ranked(rows: Seq[(Long, Double)]): Seq[Seq[Any]] =
    rows.groupBy(_._1).toSeq
      .map { case (d, cs) => (d, math.round(cs.map(_._2).sum * 1e6)) }
      .sortBy { case (d, x6) => (-x6, d) }.take(k)
      .zipWithIndex.map { case ((d, x6), i) => Seq((i + 1).toLong, d, x6) }

  private def contribs(df: DataFrame): Seq[(Long, Double)] =
    df.collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))

  /** Rows per qid as (rnk, doc_id, score_x6). */
  private def byQid(df: DataFrame): Map[Long, Seq[Seq[Any]]] =
    df.collect().toSeq.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.map(r => r.toSeq.tail)
    }

  private def served(h: Searcher.Handle): (Map[Long, Seq[Seq[Any]]],
      Map[Long, Seq[Seq[Any]]]) =
    (byQid(Searcher.search(h, queries, k, chain)),
      byQid(Searcher.phraseSearch(h, phrases, k, pos)))

  test("keys sit in every placement, and each key's served df is its term_stats df") {
    val io = new TableIO(dir)
    assert(IndexTables.activeBatches(io) === Seq(0L, 1L))
    // (term, shard) → whether its blocks there come from the base, a segment
    val blocks = IndexTables.postings(spark, io)
      .select(col("term"), col("doc_shard"), col("group") >= IndexTables.GroupBase)
      .distinct().collect().toSeq
      .map(r => (r.getString(0), r.getInt(1), r.getBoolean(2)))
    val placements = blocks.groupBy(_._1).map { case (t, bs) =>
      val shards = bs.groupBy(_._2).map { case (s, xs) => s -> xs.map(_._3).toSet }
      t -> shards
    }
    def some(p: Map[Int, Set[Boolean]] => Boolean): Boolean = placements.values.exists(p)
    val base = (s: Set[Boolean]) => s.contains(false)
    val seg = (s: Set[Boolean]) => s.contains(true)
    assert(some(_.values.forall(s => !seg(s))), "base only")
    assert(some(_.values.forall(s => !base(s))), "segment only")
    assert(some(_.values.exists(s => base(s) && seg(s))), "base and segment in one shard")
    assert(some(m => m.values.exists(s => base(s) && !seg(s)) &&
      m.values.exists(s => seg(s) && !base(s))), "base and segment in different shards")

    val h = Searcher.open(spark, dir)
    try {
      val baseDf = IndexTables.postings(spark, io)
        .where(col("group") < IndexTables.GroupBase)
        .select("term", "df").distinct().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val stats = IndexTables.termStats(spark, io).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(stats.keySet === placements.keySet)
      stats.foreach { case (t, df) =>
        // every key a segment holds was resolved at open
        if (placements(t).values.exists(seg)) assert(h.df(t) === Some(df), t)
        assert(h.df(t).getOrElse(baseDf(t)) === df, t)
      }
    } finally h.close()
  }

  /** Checks `h`'s search and phrase rows against their twins, and each
    * query's [[Searcher.scores]] rows against both: one row per doc, its
    * micro-rounded score the twin's per-doc sum micro-rounded and every
    * search hit's score_x6. Returns the served rows. */
  private def twinsAgree(h: Searcher.Handle): (Map[Long, Seq[Seq[Any]]],
      Map[Long, Seq[Seq[Any]]]) = {
    def weights(q: String) = chain(q).groupBy(identity).view.mapValues(_.length).toMap
    val (search, phrase) = served(h)
    // every score list before any twin: a twin's driver df lookup caches
    // its terms' dfs on the handle
    val scoreLists = queries.map { case (_, q) => contribs(Searcher.scores(h, weights(q))) }
    queries.zip(scoreLists).foreach { case ((qid, q), scored) =>
      val twin = contribs(FieldedNaive.contribs(h, weights(q)))
      val hits = search.getOrElse(qid.toLong, Seq.empty)
      assert(hits === ranked(twin), q)
      assert(scored.map(_._1).distinct.length === scored.length, q)
      val x6 = scored.map { case (d, s) => d -> math.round(s * 1e6) }.toMap
      assert(x6 === twin.groupBy(_._1).map { case (d, cs) =>
        d -> math.round(cs.map(_._2).sum * 1e6) }, q)
      hits.foreach { case Seq(_, d, s6) => assert(s6 === x6(d.asInstanceOf[Long]), q) }
    }
    phrases.foreach { case (qid, q) =>
      assert(phrase.getOrElse(qid.toLong, Seq.empty) ===
        ranked(contribs(Searcher.phraseContribs(h, pos(q)))), q)
    }
    (search, phrase)
  }

  test("segment-handle search and phrase rows equal their contribs twins") {
    val h = Searcher.open(spark, dir)
    try {
      val (search, phrase) = twinsAgree(h)
      // only the phrase with a corpus-absent term matches nothing
      assert(search.keySet === queries.map(_._1.toLong).toSet)
      assert(phrase.keySet === phrases.map(_._1.toLong).toSet - 8L)

      val sc = spark.sparkContext
      val (id, n) = (h.shards.sourceId, h.shards.getNumPartitions)
      CachedBlocks.drop(sc, id)
      assert(CachedBlocks.of(sc, id, n).isEmpty)
      assert(twinsAgree(h) === ((search, phrase)))
    } finally h.close()
    val bare = Searcher.open(spark, bareDir)
    try {
      assert(IndexTables.activeBatches(new TableIO(bareDir)).isEmpty)
      val (search, _) = twinsAgree(bare)
      assert(search.nonEmpty)
    } finally bare.close()
  }
}
