package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.analysis.Analyzer
import graft.index.FieldedIndex._
import graft.index.TextIndex
import graft.query.Searcher

/** The declarative twins of the fielded bool-family kernel paths: full
  * per-clause score lists from [[Searcher.contribs]] /
  * [[Searcher.phraseContribs]] combined by Catalyst, exact but unpruned —
  * the rank-identity references `FieldedSpec` compares each
  * [[graft.index.FieldedIndex]] kernel path against. */
object FieldedNaive {

  /** The declarative twin of [[filteredMatch]] (full score-list decode +
    * Catalyst semi-join) — the rank-identity reference the kernel path is
    * property-tested against; not the production plan (a high-df filter
    * decodes wholesale here). */
  def filteredMatchNaive(spark: SparkSession, indexDir: String,
                         matchSpec: FieldSpec, matchText: String,
                         filterSpec: FieldSpec, filterValues: Seq[String],
                         k: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    val tw = termWeights(matchSpec, matchText)
    val scores = Searcher
      .contribs(handleFor(spark, indexDir, matchSpec.field), tw)
      .groupBy(col("doc_id"))
      .agg(sum(col("contrib")).as("score"))
    // no distinct(): left_semi ignores right-side duplicates, and a
    // distinct here would only add an exchange
    val allowed = termQuery(spark, indexDir, filterSpec, filterValues)
      .select("doc_id")
    scores.join(allowed, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), TextIndex.microRound(col("score")).as("score_x6"))
      .orderBy(col("score_x6").desc, col("doc_id").asc)
      .limit(k)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score_x6").desc, col("doc_id").asc)))
      .select(col("rnk").cast("long").as("rnk"), col("doc_id"), col("score_x6"))
  }

  /** The declarative twin of [[multiMatchBoost]] (per-leg boosted score
    * lists + Catalyst hash-agg sum) — rank-identity reference for the
    * boosted kernel path. */
  def multiMatchBoostNaive(spark: SparkSession, indexDir: String,
                           legs: Seq[(FieldSpec, String, Double)],
                           k: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    val contribs = legs.map { case (spec, text, boost) =>
      Searcher.contribs(handleFor(spark, indexDir, spec.field),
        termWeights(spec, text), boost)
    }
    contribs.reduce(_.unionByName(_))
      .groupBy(col("doc_id"))
      .agg(sum(col("contrib")).as("score"))
      .select(col("doc_id"), TextIndex.microRound(col("score")).as("score_x6"))
      .orderBy(col("score_x6").desc, col("doc_id").asc)
      .limit(k)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score_x6").desc, col("doc_id").asc)))
      .select(col("rnk").cast("long").as("rnk"), col("doc_id"), col("score_x6"))
  }

  /** The declarative twin of [[boolQuery]] (full per-clause score lists —
    * match legs via [[Searcher.contribs]], phrase clauses via
    * [[Searcher.phraseContribs]] — Catalyst hash-agg sum with a
    * matched-clause count for minimum_should_match) — the rank-identity
    * reference for the kernel path; exact but unpruned. */
  def boolQueryNaive(spark: SparkSession, indexDir: String,
                     legs: Seq[(FieldSpec, String)],
                     phraseLegs: Seq[(FieldSpec, String)], k: Int,
                     minShouldMatch: Int = 1): DataFrame = {
    import org.apache.spark.sql.functions._
    val matchC = legs.zipWithIndex.map { case ((spec, text), li) =>
      Searcher.contribs(handleFor(spark, indexDir, spec.field),
        termWeights(spec, text)).withColumn("leg", lit(li))
    }
    val phraseC = phraseLegs.zipWithIndex.map { case ((spec, text), pi) =>
      Searcher.phraseContribs(handleFor(spark, indexDir, spec.field),
        Analyzer.analyzeChainPos(spec.chain, text))
        .withColumn("leg", lit(legs.size + pi))
    }
    (matchC ++ phraseC).reduce(_.unionByName(_))
      .groupBy(col("doc_id"))
      .agg(sum(col("contrib")).as("score"),
        countDistinct(col("leg")).as("nlegs"))
      .where(col("nlegs") >= minShouldMatch)
      .select(col("doc_id"), TextIndex.microRound(col("score")).as("score_x6"))
      .orderBy(col("score_x6").desc, col("doc_id").asc)
      .limit(k)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score_x6").desc, col("doc_id").asc)))
      .select(col("rnk").cast("long").as("rnk"), col("doc_id"), col("score_x6"))
  }

  /** The declarative twin of [[esBool]] (full per-clause score lists +
    * Catalyst gates: required-leg count, should-count HAVING, filter
    * semi-join, must_not anti-join) — rank-identity reference for the
    * kernel path; exact but unpruned. */
  def esBoolNaive(spark: SparkSession, indexDir: String,
                  must: Seq[(FieldSpec, String)] = Nil,
                  should: Seq[(FieldSpec, String)] = Nil,
                  mustPhrases: Seq[(FieldSpec, String)] = Nil,
                  shouldPhrases: Seq[(FieldSpec, String)] = Nil,
                  filter: Option[(FieldSpec, Seq[String])] = None,
                  mustNot: Option[(FieldSpec, Seq[String])] = None,
                  k: Int = 10, minShouldMatch: Option[Int] = None): DataFrame = {
    // bind before the functions._ import: `filter` would otherwise be
    // ambiguous with org.apache.spark.sql.functions.filter
    val filterOpt = filter
    val mustNotOpt = mustNot
    import org.apache.spark.sql.functions._
    val msmEff = minShouldMatch.getOrElse(
      if (must.nonEmpty || mustPhrases.nonEmpty) 0 else 1)
    val nMatch = must.size + should.size
    val matchC = (must ++ should).zipWithIndex.map { case ((spec, text), li) =>
      Searcher.contribs(handleFor(spark, indexDir, spec.field),
        termWeights(spec, text)).withColumn("leg", lit(li))
    }
    val phraseC = (mustPhrases ++ shouldPhrases).zipWithIndex.map {
      case ((spec, text), pi) =>
        Searcher.phraseContribs(handleFor(spark, indexDir, spec.field),
          Analyzer.analyzeChainPos(spec.chain, text))
          .withColumn("leg", lit(nMatch + pi))
    }
    val reqSet: Seq[Int] =
      must.indices ++ mustPhrases.indices.map(nMatch + _)
    val isReq =
      if (reqSet.isEmpty) lit(false) else col("leg").isInCollection(reqSet)
    var scored = (matchC ++ phraseC).reduce(_.unionByName(_))
      .groupBy(col("doc_id"))
      .agg(sum(col("contrib")).as("score"),
        countDistinct(when(isReq, col("leg"))).as("nreq"),
        countDistinct(when(!isReq, col("leg"))).as("nshould"))
      .where(col("nreq") === reqSet.size && col("nshould") >= msmEff)
    for ((fs, vs) <- filterOpt)
      scored = scored.join(
        termQuery(spark, indexDir, fs, vs).select("doc_id"),
        Seq("doc_id"), "left_semi")
    for ((fs, vs) <- mustNotOpt)
      scored = scored.join(
        termQuery(spark, indexDir, fs, vs).select("doc_id"),
        Seq("doc_id"), "left_anti")
    scored
      .select(col("doc_id"), TextIndex.microRound(col("score")).as("score_x6"))
      .orderBy(col("score_x6").desc, col("doc_id").asc)
      .limit(k)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score_x6").desc, col("doc_id").asc)))
      .select(col("rnk").cast("long").as("rnk"), col("doc_id"), col("score_x6"))
  }

  /** The declarative twin of [[disMax]] (full per-leg decode + Catalyst
    * max/sum) — rank-identity reference for the kernel path. */
  def disMaxNaive(spark: SparkSession, indexDir: String,
                  legs: Seq[(FieldSpec, String)], k: Int,
                  tieBreaker: Double): DataFrame = {
    import org.apache.spark.sql.functions._
    val perLeg = legs.map { case (spec, text) =>
      Searcher.contribs(handleFor(spark, indexDir, spec.field),
        termWeights(spec, text))
        .groupBy(col("doc_id")).agg(sum(col("contrib")).as("leg_score"))
    }
    perLeg.reduce(_.unionByName(_))
      .groupBy(col("doc_id"))
      .agg((max(col("leg_score")) +
        lit(tieBreaker) * (sum(col("leg_score")) - max(col("leg_score"))))
        .as("score"))
      .select(col("doc_id"), TextIndex.microRound(col("score")).as("score_x6"))
      .orderBy(col("score_x6").desc, col("doc_id").asc)
      .limit(k)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score_x6").desc, col("doc_id").asc)))
      .select(col("rnk").cast("long").as("rnk"), col("doc_id"), col("score_x6"))
  }

  /** The declarative twin of [[multiMatch]] (per-leg full score lists +
    * Catalyst hash-agg sum) — rank-identity reference for the kernel path;
    * exact but unpruned (a sum-ranked doc can win from middling per-field
    * scores, so per-field top-k would be wrong and this decodes every
    * leg's matches). */
  def multiMatchNaive(spark: SparkSession, indexDir: String,
                      legs: Seq[(FieldSpec, String)], k: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    val contribs = legs.map { case (spec, text) =>
      Searcher.contribs(handleFor(spark, indexDir, spec.field),
        termWeights(spec, text))
    }
    contribs.reduce(_.unionByName(_))
      .groupBy(col("doc_id"))
      .agg(sum(col("contrib")).as("score"))
      .select(col("doc_id"), TextIndex.microRound(col("score")).as("score_x6"))
      .orderBy(col("score_x6").desc, col("doc_id").asc)
      .limit(k)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score_x6").desc, col("doc_id").asc)))
      .select(col("rnk").cast("long").as("rnk"), col("doc_id"), col("score_x6"))
  }
}
