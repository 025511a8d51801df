package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.analysis.Analyzer
import graft.index.FieldedIndex._
import graft.index.TextIndex
import graft.query.{Bm25, Searcher}

/** The declarative twins of the fielded bool-family kernel paths: full
  * per-clause score lists from [[contribs]] / [[Searcher.phraseContribs]]
  * combined by Catalyst, exact but unpruned — the rank-identity references
  * `FieldedSpec` and `EsDslSpec` compare each [[graft.index.FieldedIndex]]
  * kernel path against. */
object FieldedNaive {

  /** Per-doc BM25 contributions of a weighted term bag against this
    * handle's index: (doc_id, contrib) with contrib = weight · idf ·
    * tfNorm under THIS index's stats — an independent decoder of the
    * handle's blocks, with dfs resolved on the driver ([[Searcher.termDfs]]),
    * so the twins and `SegmentDfSpec` check the kernel's walk and its df
    * rule against a path that shares neither. A doc's rows are summed
    * downstream (per field, or across sub-indexes for multi-field twins).
    * The doubles are the WAND kernel's own (same
    * [[graft.query.Bm25.idf]]/[[graft.query.Bm25.tfNorm]] calls), so
    * micro-rounded sums agree with the kernel's exactly. */
  def contribs(h: Searcher.Handle, termWeights: Map[String, Int],
               boost: Double = 1.0): DataFrame = {
    import h.spark.implicits._
    val dfByTerm = Searcher.termDfs(h, termWeights.keys.toArray)
    val n = h.stats.n_docs
    val avgdl = h.stats.avgdl
    // boost folds into idf BEFORE the weight multiply — the same FP order
    // as the kernel's pre-multiplied cursor idf, so micro-rounded sums
    // agree exactly; ×1.0 is the IEEE identity (unboosted callers
    // unchanged bit-for-bit)
    val idfW: Array[(String, Double)] = termWeights.toArray.collect {
      case (t, w) if dfByTerm.contains(t) =>
        t -> w * (Bm25.idf(n, dfByTerm(t)) * boost)
    }
    h.shards.flatMap { si =>
      idfW.iterator.flatMap { case (t, iw) =>
        val tp = si.terms.get(t)
        if (tp == null) Iterator.empty
        else tp.blocks.iterator.flatMap { b =>
          val ids = graft.index.Codec.decodeDocIds(b.doc_ids, b.n)
          val tfs = graft.index.Codec.decodeTfs(b.tfs, b.n)
          val dls = graft.index.Codec.decodeTfs(b.dls, b.n)
          (0 until b.n).iterator.map(i =>
            (ids(i), iw * Bm25.tfNorm(tfs(i).toDouble, dls(i).toDouble, avgdl)))
        }
      }
    }.toDF("doc_id", "contrib")
  }

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
    val scores = contribs(handleFor(spark, indexDir, matchSpec.field), tw)
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

  /** The declarative twin of a boosted multi-field [[query]] (a bool of
    * per-field matches with `boost`: per-leg boosted score lists + Catalyst
    * hash-agg sum) — rank-identity reference for the boosted kernel path. */
  def multiMatchBoostNaive(spark: SparkSession, indexDir: String,
                           legs: Seq[(FieldSpec, String, Double)],
                           k: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    val perLeg = legs.map { case (spec, text, boost) =>
      contribs(handleFor(spark, indexDir, spec.field),
        termWeights(spec, text), boost)
    }
    perLeg.reduce(_.unionByName(_))
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
    * match legs via [[contribs]], phrase clauses via
    * [[Searcher.phraseContribs]] — Catalyst hash-agg sum with a
    * matched-clause count for minimum_should_match) — the rank-identity
    * reference for the kernel path; exact but unpruned. */
  def boolQueryNaive(spark: SparkSession, indexDir: String,
                     legs: Seq[(FieldSpec, String)],
                     phraseLegs: Seq[(FieldSpec, String)], k: Int,
                     minShouldMatch: Int = 1): DataFrame = {
    import org.apache.spark.sql.functions._
    val matchC = legs.zipWithIndex.map { case ((spec, text), li) =>
      contribs(handleFor(spark, indexDir, spec.field),
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
      contribs(handleFor(spark, indexDir, spec.field),
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
      contribs(handleFor(spark, indexDir, spec.field),
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
    val perLeg = legs.map { case (spec, text) =>
      contribs(handleFor(spark, indexDir, spec.field),
        termWeights(spec, text))
    }
    perLeg.reduce(_.unionByName(_))
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
