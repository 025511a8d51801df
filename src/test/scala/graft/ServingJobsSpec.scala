package graft

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graftbridge.{Bridge, CachedBlocks}
import org.apache.spark.storage.StorageLevel
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.analysis.Analyzer
import graft.harness.{FieldedQueries, QuerySet, TextQueries}
import graft.index.{FieldedIndex, IndexTables, PostingsBuilder}
import graft.io.TableIO
import graft.query.Searcher
import graft.streaming.{Compactor, IncrementalIndexer}
import graft.web.{WebIndex, WebtextGen}

/** The per-query job budget of the serving path: on a handle without active
  * streamed segments a warm search is one fan-out job, new terms included
  * (each shard reads a term's global df from its own dictionary), with one
  * task per shard-holding partition; with active segments a df-cache miss
  * adds one df-lookup job. Collecting or counting the driver-ordered top-k
  * frame launches nothing more and starts no SQL execution: it answers
  * from the rows the driver merged. Jobs and SQL executions are counted by
  * a listener filtered on this thread's job group. Warm serving jobs hand
  * Spark named tasks, so no call cleans a lambda closure, and run on the
  * lineage-free view of the resident shards, so their task binary stays
  * small. */
class ServingJobsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val dir: String = {
    val d = s"${sys.props("user.dir")}/target/test-idx/serving-jobs"
    new TableIO(d).deleteAll()
    PostingsBuilder.build(spark, TextQueries.docs(spark, "/root/testdata/sf0.001"),
      d, PostingsBuilder.Config(shardSize = 128, shardGroups = 2))
    d
  }
  private lazy val handle = Searcher.open(spark, dir)

  /** Runs `body`, returning its result, the Spark jobs it launched and the
    * SQL executions it started. */
  private def launchesOf[T](body: => T)
      : (T, Seq[SparkListenerJobStart], Seq[SparkListenerSQLExecutionStart]) = {
    val sc = spark.sparkContext
    val group = s"serving-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]
    val sqls = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerSQLExecutionStart]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.add(e)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobGroupId.contains(group) =>
          sqls.add(s)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "serving job budget")
    try {
      val out = body
      Bridge.drainListenerBus(sc)
      (out, jobs.asScala.toSeq, sqls.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Runs `body`, returning its result and the Spark jobs it launched. */
  private def jobStartsOf[T](body: => T): (T, Seq[SparkListenerJobStart]) = {
    val (out, jobs, _) = launchesOf(body)
    (out, jobs)
  }

  /** Runs `body`, returning its result and the number of Spark jobs it
    * launched. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val (out, starts) = jobStartsOf(body)
    (out, starts.length)
  }

  /** Runs `body`, returning the ClosureCleaner's "Cleaning indylambda
    * closure" debug messages logged on this thread meanwhile: each is one
    * ASM parse of the lambda's defining class file. */
  private def lambdaCleans(body: => Unit): Seq[String] = {
    val caller = Thread.currentThread()
    val seen = mutable.ArrayBuffer.empty[String]
    val appender = new AbstractAppender("closure-cleans", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (Thread.currentThread() eq caller) {
          val msg = e.getMessage.getFormattedMessage
          if (msg.contains("Cleaning indylambda closure")) seen += msg
        }
    }
    appender.start()
    val logger = LogManager.getLogger("org.apache.spark.util.ClosureCleaner")
      .asInstanceOf[Logger]
    val level = logger.getLevel
    logger.addAppender(appender)
    logger.setLevel(Level.DEBUG)
    try { body; seen.toSeq }
    finally {
      logger.removeAppender(appender)
      logger.setLevel(level)
      appender.stop()
    }
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq)

  /** Tasks of the given jobs' result stages (a job also lists the skipped
    * stages of its lineage, such as an open's shuffle). */
  private def tasksOf(starts: Seq[SparkListenerJobStart]): Int =
    starts.map(_.stageInfos.maxBy(_.stageId).numTasks).sum

  /** Generated web pages with doc ids `[lo, hi)`. */
  private def pages(lo: Long, hi: Long): DataFrame = {
    import spark.implicits._
    spark.range(lo, hi, 1, 4).mapPartitions(_.map(i =>
      WebtextGen.rowFor(i, StreamSpec.Big))).toDF()
  }

  /** A fresh index at `name`: a 600-page base with one active streamed
    * segment of 200 pages (so a handle over it takes the shuffle open). */
  private def segmented(name: String, cfg: PostingsBuilder.Config): String = {
    val root = s"${sys.props("user.dir")}/target/test-idx/$name"
    new TableIO(root).deleteAll()
    WebIndex.build(spark, pages(0, 600), root, cfg)
    IncrementalIndexer.ingestBatch(spark, pages(600, 800), root, 0L, cfg)
    assert(IndexTables.activeBatches(new TableIO(root)) === Seq(0L))
    root
  }

  /** Partitions of a handle's resident RDD that hold at least one shard. */
  private def holding(h: Searcher.Handle): Int =
    h.shards.mapPartitions(it => Iterator(it.hasNext)).collect().count(identity)

  test("a warm search is one job, also when a term is new") {
    val q = Seq(1 -> "fast join merge")
    val first = rows(Searcher.search(handle, q, QuerySet.K))
    assert(first.nonEmpty)
    val (hit, hitJobs) = jobsOf(rows(Searcher.search(handle, q, QuerySet.K)))
    assert(hitJobs === 1)
    assert(hit === first)
    // a term the handle has never seen: each shard reads its global df from
    // its own dictionary entry, so no df-lookup job runs
    val (_, missJobs) = jobsOf(
      rows(Searcher.search(handle, Seq(1 -> "fast join merge zqxjvw"), QuerySet.K)))
    assert(missJobs === 1)
  }

  test("count of a warm search frame is the fan-out job alone") {
    val q = Seq(1 -> "fast join merge")
    val n = Searcher.search(handle, q, QuerySet.K).count()
    assert(n > 0)
    val (again, jobs) = jobsOf(Searcher.search(handle, q, QuerySet.K).count())
    assert(again === n)
    // Catalyst's count of the local relation would add two aggregate jobs
    assert(jobs === 1)
  }

  test("collecting a search frame starts no SQL execution; a transformation does") {
    val q = Seq(1 -> "fast join merge")
    rows(Searcher.search(handle, q, QuerySet.K))
    val df = Searcher.search(handle, q, QuerySet.K)
    val (got, jobs, sqls) = launchesOf(rows(df))
    assert(got.nonEmpty)
    assert(jobs.isEmpty && sqls.isEmpty)
    // the listener sees a Catalyst action over the same frame
    val (filtered, _, filterSqls) = launchesOf(rows(df.filter("rnk <= 3")))
    assert(filtered === got.take(3))
    assert(filterSqls.nonEmpty)
  }

  test("a warm serving job runs one task per shard-holding partition") {
    val q = Seq(1 -> "fast join merge")
    rows(Searcher.search(handle, q, QuerySet.K))
    val (_, starts) = jobStartsOf(rows(Searcher.search(handle, q, QuerySet.K)))
    assert(starts.length === 1)
    assert(tasksOf(starts) === holding(handle))
    // two fields over a one-shard index: the shuffle open spreads one shard
    // over every core's partition, and only its partition runs a task
    val small = s"${sys.props("user.dir")}/target/test-idx/serving-jobs-one-shard"
    new TableIO(small).deleteAll()
    WebIndex.build(spark, pages(0, 64), small)
    val mh = Searcher.open(spark, Seq("a" -> small, "b" -> small))
    try {
      val legs = Seq(Searcher.MultiLeg("a", Map("w1" -> 1)),
        Searcher.MultiLeg("b", Map("w2" -> 1)))
      val first = rows(Searcher.multiSearch(mh, legs, QuerySet.K))
      assert(first.nonEmpty)
      val (hit, starts) = jobStartsOf(rows(Searcher.multiSearch(mh, legs, QuerySet.K)))
      assert(hit === first)
      assert(mh.shards.getNumPartitions === 4)
      assert(holding(mh) === 1)
      assert(starts.length === 1 && tasksOf(starts) === 1)
    } finally mh.close()
  }

  test("an active streamed segment keeps the df-lookup job until compaction") {
    val cfg = PostingsBuilder.Config(shardSize = 256)
    val root = segmented("serving-jobs-stream", cfg)
    def budget(h: Searcher.Handle): (Int, Int) = {
      val q = Seq(1 -> "w1 w2 w3")
      rows(Searcher.search(h, q, QuerySet.K))
      val (_, hitJobs) = jobsOf(rows(Searcher.search(h, q, QuerySet.K)))
      val (_, missJobs) = jobsOf(rows(Searcher.search(h, Seq(1 -> "w1 w7"),
        QuerySet.K)))
      (hitJobs, missJobs)
    }
    val seg = Searcher.open(spark, root)
    try assert(budget(seg) === (1, 2))
    finally seg.close()
    assert(Compactor.compact(spark, root, cfg))
    val compacted = Searcher.open(spark, root)
    try assert(budget(compacted) === (1, 1))
    finally compacted.close()
  }

  test("warm serving calls clean no lambda closure") {
    val th = FieldedIndex.handleFor(spark, FieldedQueries.ensureFieldedIndex(spark),
      "title")
    val pos = Analyzer.analyzeChainPos(Analyzer.TextStop, _: String)
    val mh = Searcher.open(spark, Seq("body" -> dir))
    try {
      val legs = Seq(Searcher.MultiLeg("body", Map("join" -> 1, "hash" -> 1)))
      val calls: Seq[(String, () => DataFrame)] = Seq(
        "search" -> (() => Searcher.search(handle, Seq(1 -> "fast join merge"),
          QuerySet.K)),
        "fuzzySearch" -> (() => Searcher.fuzzySearch(handle,
          Seq(1 -> "fastt joinn"), QuerySet.K)),
        "termSuggest" -> (() => Searcher.termSuggest(handle, "joinn", 3)),
        "phraseSearch" -> (() => Searcher.phraseSearch(th,
          Seq(1 -> "second title"), QuerySet.K, pos)),
        "multiSearch" -> (() => Searcher.multiSearch(mh, legs, QuerySet.K)))
      calls.foreach { case (name, call) =>
        assert(rows(call()).nonEmpty, name)
        assert(lambdaCleans(rows(call())) === Seq.empty, name)
      }
      // a term the handle has never seen is still one job
      val (_, missJobs) = jobsOf(assert(lambdaCleans(rows(Searcher.search(
        handle, Seq(1 -> "fast join qzvxkw"), QuerySet.K))) === Seq.empty))
      assert(missJobs === 1)
    } finally mh.close()
  }

  test("multiSearch on a warm multi-field handle is one job") {
    val mh = Searcher.open(spark, Seq("body" -> dir))
    try {
      val legs = Seq(Searcher.MultiLeg("body",
        Analyzer.analyzeStop("hash join").groupBy(identity).view
          .mapValues(_.length).toMap))
      val first = rows(Searcher.multiSearch(mh, legs, QuerySet.K))
      assert(first.nonEmpty)
      val (hit, jobs) = jobsOf(rows(Searcher.multiSearch(mh, legs, QuerySet.K)))
      assert(jobs === 1)
      assert(hit === first)
    } finally mh.close()
  }

  test("warm phrase, span_near and phrase-prefix searches are one job on a df-cache hit") {
    // positional queries need a positioned build: the fielded title field
    // (values "Record $i title", "second title $i")
    val th = FieldedIndex.handleFor(spark, FieldedQueries.ensureFieldedIndex(spark),
      "title")
    val pos = Analyzer.analyzeChainPos(Analyzer.TextStop, _: String)
    val titleDf = Searcher.termDfs(th, Array("title"))("title")
    val spans = Seq((1, "record title", 1), (2, "second 7", 1))
    val calls: Seq[(String, () => DataFrame)] = Seq(
      "phrase" -> (() => Searcher.phraseSearch(th,
        Seq(1 -> "second title", 2 -> "title 42"), QuerySet.K, pos)),
      "span_near" -> (() => Searcher.spanNearSearch(th, spans, QuerySet.K,
        Analyzer.analyzeStop)),
      "span_near unordered" -> (() => Searcher.spanNearSearch(th, spans,
        QuerySet.K, Analyzer.analyzeStop, inOrder = false)),
      "phrase prefix" -> (() => Searcher.phrasePrefixSearch(th,
        Seq(1 -> "second titl", 2 -> "titl"), QuerySet.K, pos,
        p => if ("title".startsWith(p)) Seq("title" -> titleDf) else Seq.empty)))
    calls.foreach { case (name, call) =>
      val first = rows(call())
      assert(first.map(_.head).distinct === Seq(1L, 2L), name)
      val (hit, jobs) = jobsOf(rows(call()))
      assert(jobs === 1, name)
      assert(hit === first, name)
    }
  }

  test("a bool query past 64 clauses is refused on the driver, launching no job") {
    val mh = Searcher.open(spark, Seq("body" -> dir))
    try {
      val legs = Seq.fill(65)(Searcher.MultiLeg("body", Map("join" -> 1)))
      val (e, jobs) = jobsOf(intercept[IllegalArgumentException](
        Searcher.multiSearch(mh, legs, QuerySet.K)))
      assert(e.getMessage.contains("at most 64 clauses"))
      assert(jobs === 0)
      // 64 clauses is the limit, not past it
      assert(rows(Searcher.multiSearch(mh, legs.take(64), QuerySet.K)).nonEmpty)
    } finally mh.close()
  }

  test("the 20-query batch collects in (qid, rnk) order") {
    val df = Searcher.search(handle, QuerySet.queries, QuerySet.K)
    val got = rows(df)
    assert(QuerySet.queries.length === 20)
    assert(got.map(_.take(2)).distinct.length === got.length)
    assert(got === rows(df.orderBy("qid", "rnk")))
    assert(got.map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long])) ===
      got.map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long])).sorted)
  }

  test("no surviving query term launches no job and keeps the schema") {
    val schema = Searcher.search(handle, QuerySet.queries, QuerySet.K).schema
    val (empty, emptyJobs) =
      jobsOf(Searcher.search(handle, Seq.empty, QuerySet.K))
    val (stop, stopJobs) =
      jobsOf(Searcher.search(handle, Seq(1 -> "the of and"), QuerySet.K))
    assert(emptyJobs === 0 && stopJobs === 0)
    assert(empty.schema === schema && stop.schema === schema)
    val ((e, s), collectJobs) = jobsOf((rows(empty), rows(stop)))
    assert(e.isEmpty && s.isEmpty && collectJobs === 0)
    // the phrase paths skip the fan-out the same way
    val (phrase, phraseJobs) = jobsOf(rows(Searcher.phraseSearch(handle,
      Seq(1 -> "the of and"), QuerySet.K,
      Analyzer.analyzeChainPos(Analyzer.TextStop, _))))
    assert(phrase.isEmpty && phraseJobs === 0)
  }

  test("a batch with a duplicate qid is rejected; an empty highlight is empty") {
    val dup = Seq(7 -> "fast join", 7 -> "hash join")
    val pos = Analyzer.analyzeChainPos(Analyzer.TextStop, _: String)
    val calls: Seq[() => DataFrame] = Seq(
      () => Searcher.search(handle, dup, QuerySet.K),
      () => Searcher.fuzzySearch(handle, dup, QuerySet.K),
      () => Searcher.phraseSearch(handle, dup, QuerySet.K, pos),
      () => Searcher.spanNearSearch(handle, dup.map { case (q, t) => (q, t, 1) },
        QuerySet.K, Analyzer.analyzeStop),
      () => Searcher.phrasePrefixSearch(handle, dup, QuerySet.K, pos,
        _ => Seq.empty))
    calls.foreach { call =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("duplicate qid 7"))
    }
    // highlighting searches first, so it refuses the same batch
    val idx = FieldedQueries.ensureFieldedIndex(spark)
    val title = FieldedIndex.CrossrefMapping.find(_.field == "title").get
    intercept[IllegalArgumentException] {
      FieldedIndex.highlight(spark, idx, title, Seq(1 -> "record", 1 -> "title"), 2)
    }
    assert(FieldedIndex.highlight(spark, idx, title, Seq.empty, 2).collect().isEmpty)
  }

  test("a bool query on a field the handle does not hold is refused, launching no job") {
    val mh = Searcher.open(spark, Seq("body" -> dir))
    try {
      val body = Seq(Searcher.MultiLeg("body", Map("join" -> 1)))
      val calls: Seq[(String, () => DataFrame)] = Seq(
        "leg" -> (() => Searcher.multiSearch(mh,
          body :+ Searcher.MultiLeg("title", Map("join" -> 1)), QuerySet.K)),
        "phrase" -> (() => Searcher.multiSearch(mh, body, QuerySet.K,
          phraseLegs = Seq(Searcher.PhraseLeg("title", Array("join" -> 0))))),
        "filter" -> (() => Searcher.multiSearch(mh, body, QuerySet.K,
          filter = Some("year" -> Seq("1997")))),
        "must_not" -> (() => Searcher.multiSearch(mh, body, QuerySet.K,
          mustNot = Some("year" -> Seq("1997")))))
      calls.foreach { case (name, call) =>
        val (e, jobs) = jobsOf(intercept[IllegalArgumentException](call()))
        assert(e.getMessage.contains("not held by this handle"), name)
        assert(jobs === 0, name)
      }
    } finally mh.close()
  }

  test("match_and and more_like_this serve from the field's match handle") {
    val idx = FieldedQueries.ensureFieldedIndex(spark)
    val bib = FieldedIndex.CrossrefMapping.find(_.field == "bibliographic").get
    val (mtf, mdf, mqt, pct) = FieldedQueries.MltParams
    assert(rows(FieldedIndex.searchField(spark, idx, bib,
      Seq(1 -> "record title journal"), QuerySet.K)).nonEmpty)
    val calls: Seq[(String, () => DataFrame)] = Seq(
      "match_and" -> (() => FieldedIndex.matchAnd(spark, idx, bib,
        "record title journal", QuerySet.K)),
      "more_like_this" -> (() => FieldedIndex.moreLikeThis(spark, idx, bib,
        FieldedQueries.MltKey, QuerySet.K, mtf, mdf, mqt, pct)))
    calls.foreach { case (name, call) =>
      val persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val (got, starts) = jobStartsOf(rows(call()))
      assert(got.nonEmpty, name)
      assert(spark.sparkContext.getPersistentRDDs.keySet.toSet === persisted, name)
      // an open persists its shard RDD before the job that materializes it
      val opens = starts.filter(_.stageInfos.exists(_.rddInfos.exists(r =>
        r.storageLevel != StorageLevel.NONE && !persisted(r.id))))
      assert(opens.isEmpty, name)
      // the match query already resolved match_and's terms: one fan-out job
      if (name == "match_and") assert(starts.length === 1)
    }
  }

  test("a search fan-out's task binary stays under 4 KB on both open paths") {
    // the closure-serialized (rdd, task) pair is what the scheduler
    // broadcasts for every job; serving from the persisted shard RDD itself
    // would carry open's whole scan lineage (38-40 KB)
    val seg = Searcher.open(spark,
      segmented("serving-jobs-binary", PostingsBuilder.Config(shardSize = 256)))
    try Seq("unshuffled" -> handle, "shuffle" -> seg).foreach { case (name, h) =>
      val task = Searcher.searchTask(h, Seq(1 -> "fast join w1 w2"), QuerySet.K)
      assert(CachedBlocks.closureBytes(spark.sparkContext, (h.shards, task)) < 4096,
        name)
    } finally seg.close()
  }

  test("close releases the resident shards on both open paths") {
    val sc = spark.sparkContext
    val seg = segmented("serving-jobs-close", PostingsBuilder.Config(shardSize = 256))
    Seq(dir, seg).foreach { d =>
      val persisted = sc.getPersistentRDDs.keySet.toSet
      val h = Searcher.open(spark, d)
      val (id, n) = (h.shards.sourceId, h.shards.getNumPartitions)
      assert(sc.getPersistentRDDs.size === persisted.size + 1, d)
      assert(rows(Searcher.search(h, Seq(1 -> "fast join w1 w2"), QuerySet.K)).nonEmpty, d)
      val lazyDocs = Searcher.termDocs(h, Seq("join", "w1"))
      val docs = lazyDocs.count()
      assert(docs > 0, d)
      h.close()
      assert(sc.getPersistentRDDs.keySet.toSet === persisted, d)
      eventually(timeout(30.seconds))(assert(CachedBlocks.of(sc, id, n).isEmpty, d))
      // a lazy frame over a closed handle still computes, from the lineage,
      // and caches no block again
      assert(lazyDocs.count() === docs, d)
      assert(CachedBlocks.of(sc, id, n).isEmpty, d)
      assert(sc.getPersistentRDDs.keySet.toSet === persisted, d)
    }
  }
}
