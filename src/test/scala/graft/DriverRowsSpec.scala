package graft

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.DriverRows
import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.Analyzer
import graft.harness.{FieldedQueries, QuerySet}
import graft.index.{FieldedIndex, PostingsBuilder}
import graft.io.TableIO
import graft.query.Searcher
import graft.web.{WebIndex, WebtextGen}

/** The serving frames answer their driver-returning actions from the rows
  * the driver holds ([[DriverRows]]). Every answer must equal Catalyst's
  * over the same plan, reached through a projection the frame does not
  * answer itself, on every serving path and on the degenerate batches:
  * empty, all-stopword, whitespace-only, k = 1 and k = Int.MaxValue. */
class DriverRowsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** An index of 2,000 generated web pages (vocabulary w1..w9999, Zipf),
    * the corpus `QuerySet.webQueries` is written for. */
  private lazy val dir: String = {
    import spark.implicits._
    val d = s"${sys.props("user.dir")}/target/test-idx/driver-rows"
    new TableIO(d).deleteAll()
    val big = StreamSpec.Big
    WebIndex.build(spark, spark.range(0, 2000, 1, 4)
      .mapPartitions(_.map(i => WebtextGen.rowFor(i, big))).toDF(),
      d, PostingsBuilder.Config(shardSize = 256))
    d
  }
  private lazy val handle: Searcher.Handle = Searcher.open(spark, dir)

  /** The same plan behind a projection: a plain Dataset, so its actions run
    * through Catalyst. */
  private def plain(f: DataFrame): DataFrame = f.select(f.columns.map(col).toSeq: _*)

  /** An action's rows, or the class of what it threw. */
  private def answer(a: => Iterable[Row]): Either[Class[_], Seq[Row]] =
    Try(a.toSeq).toEither.left.map(_.getClass)

  /** Asserts that every answered action of `f` equals Catalyst's answer. */
  private def sameAnswers(name: String, f: DataFrame): Unit = {
    val p = plain(f)
    assert(f.isInstanceOf[DriverRows], name)
    assert(!p.isInstanceOf[DriverRows], name)
    assert(f.schema === p.schema, name)
    val want = p.collect().toSeq
    val n = want.length
    assert(f.collect().toSeq === want, name)
    assert(f.collectAsList().asScala.toSeq === want, name)
    Seq(-1, 0, 1, n, n + 5).foreach { m =>
      assert(answer(f.head(m)) === answer(p.head(m)), s"$name head($m)")
      assert(answer(f.take(m)) === answer(p.take(m)), s"$name take($m)")
      assert(answer(f.takeAsList(m).asScala) === answer(p.takeAsList(m).asScala),
        s"$name takeAsList($m)")
      assert(answer(f.tail(m)) === answer(p.tail(m)), s"$name tail($m)")
    }
    assert(answer(Seq(f.first())) === answer(Seq(p.first())), name)
    assert(answer(Seq(f.head())) === answer(Seq(p.head())), name)
    assert(f.toLocalIterator().asScala.toSeq === p.toLocalIterator().asScala.toSeq, name)
    assert(f.count() === p.count(), name)
    assert(f.isEmpty === p.isEmpty, name)
    // the rows carry the schema, as Catalyst's do
    f.collect().foreach { r =>
      assert(r.schema === f.schema, name)
      f.columns.indices.foreach(i => assert(r.getAs[Any](f.columns(i)) == r.get(i), name))
    }
    // a returned array or list is the caller's: changing it changes nothing
    if (n > 0) {
      f.collect()(0) = null
      f.head(n)(0) = null
      f.tail(n)(0) = null
      f.collectAsList().set(0, null)
      assert(f.collect().toSeq === want, name)
    }
    // a transformation plans through Catalyst and sees the same rows
    val filtered = f.filter(col("rnk") <= 3)
    assert(!filtered.isInstanceOf[DriverRows], name)
    assert(filtered.collect().toSeq === p.filter(col("rnk") <= 3).collect().toSeq, name)
  }

  private def search(qs: Seq[(Int, String)], k: Int = QuerySet.K): DataFrame =
    Searcher.search(handle, qs, k)

  test("search frames answer as Catalyst does, degenerate batches included") {
    val one = search(Seq(1 -> "w42 w777"))
    val batch = search(QuerySet.webQueries)
    val frames: Seq[(String, DataFrame, Int => Boolean)] = Seq(
      ("one query", one, n => n > 1 && n <= QuerySet.K),
      ("the 20-query batch", batch, _ > QuerySet.K),
      ("an empty batch", search(Seq.empty), _ == 0),
      ("an all-stopword batch", search(Seq(1 -> "the of and", 2 -> "a the")), _ == 0),
      ("a whitespace-only query", search(Seq(1 -> " \t\n  ")), _ == 0),
      ("k = 1", search(QuerySet.webQueries, 1),
        _ === batch.select("qid").distinct().count()),
      ("k = Int.MaxValue", search(Seq(1 -> "w42 w777"), Int.MaxValue),
        _ > QuerySet.K))
    frames.foreach { case (name, f, size) =>
      assert(size(f.collect().length), name)
      sameAnswers(name, f)
    }
    assert(one.collect().map(_.getAs[Long]("doc_id")).toSeq ===
      plain(one).collect().map(_.getAs[Long]("doc_id")).toSeq)
    assert(batch.collect().toSeq === batch.orderBy("qid", "rnk").collect().toSeq)
  }

  test("multiSearch, phraseSearch, fuzzySearch and termSuggest frames answer as Catalyst does") {
    val mh = Searcher.open(spark, Seq("body" -> dir))
    val th = FieldedIndex.handleFor(spark, FieldedQueries.ensureFieldedIndex(spark),
      "title")
    try {
      val frames: Seq[(String, DataFrame)] = Seq(
        "multiSearch" -> Searcher.multiSearch(mh,
          Seq(Searcher.MultiLeg("body", Map("w42" -> 1, "w777" -> 1))), QuerySet.K),
        "phraseSearch" -> Searcher.phraseSearch(th,
          Seq(1 -> "second title", 2 -> "title 42"), QuerySet.K,
          Analyzer.analyzeChainPos(Analyzer.TextStop, _)),
        "fuzzySearch" -> Searcher.fuzzySearch(handle,
          Seq(1 -> "w42x w7777x", 2 -> "w77z"), QuerySet.K),
        "termSuggest" -> Searcher.termSuggest(handle, "w42x w7777x zzzzzzzzzz", 3))
      frames.foreach { case (name, f) =>
        assert(f.collect().nonEmpty, name)
        sameAnswers(name, f)
      }
      // a suggest call whose terms are all present has no rows
      sameAnswers("termSuggest, all present", Searcher.termSuggest(handle, "w42", 3))
    } finally mh.close()
  }

  test("termSuggest keeps its column types and its (input, rnk) order") {
    val s = spark
    import s.implicits._
    val f = Searcher.termSuggest(handle, "w42x w777x w7777x", 3)
    assert(f.schema ===
      Seq.empty[(String, Long, String, Long, Long)]
        .toDF("input", "rnk", "suggestion", "df", "distance").schema)
    val got = f.collect().toSeq
    assert(got.nonEmpty)
    assert(got === plain(f).orderBy("input", "rnk").collect().toSeq)
    assert(got.map(_.getAs[String]("suggestion")) ===
      plain(f).collect().map(_.getAs[String]("suggestion")).toSeq)
  }
}
