package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.index.PostingsBuilder
import graft.io.TableIO
import graft.web.{WebIndex, WebtextGen}

/** An index is a function of its input: two builds of one input write the
  * same rows to every table. The one exception is named below — a wall
  * time, measured on the driver. */
class ReproducibleBuildSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def root = s"${sys.props("user.dir")}/target/test-idx/reproducible"

  /** Columns whose values depend on the run, not the input, per table. */
  private val RunDependent = Map("lineage" -> Seq("build_wall_ms"))

  private def tables(dir: String): Set[String] =
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(Files.isDirectory(_)).map(_.getFileName.toString)
      .filterNot(_.startsWith("_")).toSet

  /** `v` with binary values as sequences, so rows compare by content. */
  private def plain(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case r: Row => r.toSeq.map(plain)
    case s: scala.collection.Seq[_] => s.map(plain)
    case other => other
  }

  /** The table's rows as a multiset. */
  private def rowCounts(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(r => r.toSeq.map(plain))
      .groupBy(identity).view.mapValues(_.size).toMap

  test("two builds of one input write the same rows to every index table") {
    val input = {
      import spark.implicits._
      spark.range(0, 700, 1, 4).mapPartitions(_.map(i =>
        WebtextGen.rowFor(i, StreamSpec.Big))).toDF()
    }
    val cfg = PostingsBuilder.Config(shardSize = 128, shardGroups = 2)
    val dirs = Seq("a", "b").map { n =>
      val d = s"$root/$n"
      new TableIO(d).deleteAll()
      WebIndex.build(spark, input, d, cfg)
      d
    }
    val names = tables(dirs(0))
    assert(names === tables(dirs(1)))
    assert(names === Set("docs", "doc_terms", "doc_map", "term_stats",
      "postings", "lineage"))
    for (t <- names) {
      val Seq(a, b) = dirs.map(d => spark.read.parquet(s"$d/$t"))
      val drop = RunDependent.getOrElse(t, Nil)
      assert(a.columns.toSeq === b.columns.toSeq, t)
      assert(rowCounts(a.drop(drop: _*)) === rowCounts(b.drop(drop: _*)), t)
    }
  }
}
