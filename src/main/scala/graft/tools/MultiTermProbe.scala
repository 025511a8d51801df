package graft.tools

import org.apache.spark.sql.SparkSession

import graft.index.{FieldedIndex, PostingsBuilder}
import graft.io.TableIO

/** Latency probe for the round-4 multi-term and aggregation paths at
  * scale: numeric-range expansion + range-filtered bool, prefix expansion
  * off the sorted dictionary, match_phrase_prefix (MultiPhrase kernel),
  * and the term_stats-served aggregations (histogram / stats /
  * terms+cardinality / top_hits).
  *
  * `runMain graft.tools.MultiTermProbe [nDocs] [cores]` — reuses the
  * [[FieldedProfile]] synthetic corpus and its fielded index directory.
  * Protocol per BASELINE.md's variance study: 3 rounds, per-arm MINIMA
  * (contention on this host only slows runs). */
object MultiTermProbe {

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 1000000L
    val cores = if (args.length > 1) args(1).toInt else 32
    val spark = SparkSession.builder().master(s"local[$cores]")
      .appName("multiterm-probe")
      .config("spark.sql.shuffle.partitions", (cores * 2).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val src = s"${sys.props("user.dir")}/target/fielded-profile/src$n"
    if (!new java.io.File(s"$src/_SUCCESS").exists())
      FieldedProfile.corpus(spark, n).write.mode("overwrite").parquet(src)
    val dir = s"${sys.props("user.dir")}/target/fielded-profile/idx-ab$n"
    if (!FieldedIndex.isComplete(dir)) {
      new TableIO(dir).deleteAll()
      FieldedIndex.build(spark, spark.read.parquet(src), dir,
        FieldedIndex.CrossrefMapping, keyCol = "DOI",
        PostingsBuilder.Config(shardSize = 65536))
    }

    def spec(f: String) = FieldedIndex.CrossrefMapping.find(_.field == f).get
    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    def best(rounds: Int)(body: => Unit): Double =
      (1 to rounds).map(_ => time(body)).min

    val year = spec("year"); val title = spec("title")
    val doi = spec("DOI")

    // 1. range expansion (numeric shadow column) + range-filtered bool:
    //    the 3-term cohort (~n/10 docs) through the kernel filter walk
    val rt = FieldedIndex.rangeTerms(spark, dir, year,
      gte = Some(1993L), lte = Some(1995L))
    require(rt == Seq("1993", "1994", "1995"), s"range expansion: $rt")
    val rangeBool = FieldedIndex.Query.Bool(
      must = Seq(FieldedIndex.Query.Match(title, "second title 123456")),
      filter = Some(FieldedIndex.Query.Terms(year, rt)))
    FieldedIndex.query(spark, dir, rangeBool, 10).count() // warm
    val tExpand = best(3) {
      FieldedIndex.rangeTerms(spark, dir, year,
        gte = Some(1993L), lte = Some(1995L))
    }
    val tRangeBool = best(3) {
      FieldedIndex.query(spark, dir, rangeBool, 10).count()
    }
    System.err.println(
      f"[mt] range expand=$tExpand%.3fs rangeBool(3-term filter, n/10 cohort)=$tRangeBool%.3fs")

    // 2. prefix expansion off the sorted dictionary (1M-term DOI vocab)
    val pre = FieldedIndex.prefixTerms(spark, dir, doi, "10.1/syn.9999")
    val tPrefix = best(3) {
      FieldedIndex.prefixTerms(spark, dir, doi, "10.1/syn.9999")
    }
    System.err.println(
      f"[mt] prefix expand over ${n}%d-term dict: ${pre.size}%d terms in $tPrefix%.3fs")

    // 3. match_phrase_prefix: 50-cap expansion + MultiPhrase union kernel
    val ppq = Seq(1 -> "second title 1234")
    FieldedIndex.matchPhrasePrefix(spark, dir, title, ppq, 10).count() // warm
    val tPp = best(3) {
      FieldedIndex.matchPhrasePrefix(spark, dir, title, ppq, 10).count()
    }
    System.err.println(f"[mt] match_phrase_prefix (50-exp union)=$tPp%.3fs")

    // 4. aggregations: vocab-sized (histogram/stats), doc-values join
    //    (terms+cardinality), and match-bounded top_hits
    val tHist = best(3) {
      FieldedIndex.histogramAgg(spark, dir, year, 7L).count()
    }
    val tStats = best(3) {
      FieldedIndex.statsAgg(spark, dir, year).count()
    }
    val tCard = best(3) {
      FieldedIndex.termsCardinalityAgg(spark, dir, year,
        spec("volume"), 10).count()
    }
    // mass match ("title" posts every doc): the agg visits every matching
    // doc — the honest ES aggs-over-query cost
    val tTop = best(3) {
      FieldedIndex.topHitsAgg(spark, dir, year, title,
        "title 123456", 2).count()
    }
    System.err.println(
      f"[mt] hist=$tHist%.3fs stats=$tStats%.3fs termsCard=$tCard%.3fs topHits(mass match)=$tTop%.3fs")
    System.err.println(
      f"[mt summary] docs=$n expand=$tExpand%.3f rangeBool=$tRangeBool%.3f prefix=$tPrefix%.3f phrasePrefix=$tPp%.3f hist=$tHist%.3f stats=$tStats%.3f card=$tCard%.3f topHits=$tTop%.3f")
    spark.stop()
  }
}
