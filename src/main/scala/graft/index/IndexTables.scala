package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}

import graft.io.TableIO
import graft.model.CorpusStats

/** Committed-only union views over the base index plus streamed segments.
  *
  * Storage model (the Lucene-segment / LSM shape): the batch build writes an
  * immutable BASE (`doc_terms`, `doc_map`, `term_stats`,
  * `postings/group=<g<1000>`), and each streamed micro-batch `b` writes an
  * immutable SEGMENT — `stream_segments/batch=b/{doc_lens,doc_map,
  * term_stats}` + `postings/group=<1000+b>` — with `overwrite` semantics,
  * then commits the `stream_g<b>` manifest step LAST. Nothing is ever
  * appended in place and nothing merged in place, so a replayed batch
  * (crash anywhere before the manifest commit) rewrites byte-identical
  * segment files: ingest is idempotent BY CONSTRUCTION, and the manifest
  * commit is the single visibility point.
  *
  * Readers therefore union base + committed segments (a crashed batch's
  * half-written segment is invisible — its step never committed), and
  * [[graft.streaming.Compactor]] folds committed segments into a fresh base,
  * after which `compact_e<N>` in the manifest retires segments ≤ N from the
  * active set.
  *
  * Corpus stats (N, total_dl, avgdl) are no table: they are snapshot
  * properties committed in the same snapshot as the step that makes them
  * true (the build's `stats` step, each batch's `stream_g<b>`), so the
  * committed manifest always holds the stats of the committed view and
  * [[corpusStats]] reads them without a job. The additive tables stay
  * exact under this model: N and total_dl sum over segments; df(term) sums
  * over per-segment partial df (doc sets are disjoint — each streamed doc
  * gets a fresh id past the current max).
  */
object IndexTables {

  val SegmentRoot = "stream_segments"
  /** Streamed postings groups are numbered `GroupBase + batchId`; base
    * build groups stay below it. */
  val GroupBase = 1000L

  def segPath(io: TableIO, batch: Long, table: String): String =
    s"${io.tablePath(SegmentRoot)}/batch=$batch/$table"

  /** max(doc_id) over a relation with the empty-relation guard: the
    * aggregate is null on zero rows (a legal empty corpus/batch) and a
    * bare getLong would NPE. The max_doc_id writers that scan a relation
    * go through here so the guard cannot be forgotten at a new call site. */
  def maxDocId(df: DataFrame, default: Long): Long = {
    val mx = df.agg(max(col("doc_id"))).head()
    if (mx.isNullAt(0)) default else mx.getLong(0)
  }

  /** Highest epoch folded into the base by a compaction (−1 if never). */
  def lastCompactEpoch(io: TableIO): Long =
    io.committedSteps().collect {
      case s if s.startsWith("compact_e") => s.stripPrefix("compact_e").toLong
    }.maxOption.getOrElse(-1L)

  /** Committed stream batches NOT yet folded into the base — the segments a
    * reader must union in. */
  def activeBatches(io: TableIO): Seq[Long] = {
    val compacted = lastCompactEpoch(io)
    io.committedSteps().collect {
      case s if s.startsWith("stream_g") => s.stripPrefix("stream_g").toLong
    }.filter(_ > compacted).toSeq.sorted
  }

  private def unionView(spark: SparkSession, io: TableIO, table: String,
                        batches: Seq[Long]): DataFrame = {
    val paths = io.tablePath(table) +: batches.map(segPath(io, _, table))
    spark.read.parquet(paths: _*)
  }

  /** (doc_id, dl) over base + active segments. The base has no doc_lens
    * table — the pair is a column-pruned projection of the staged doc_terms
    * (the parquet scan reads two slim columns, never the tfs arrays);
    * segments write the pair directly (their doc_terms are never staged). */
  def docLens(spark: SparkSession, io: TableIO): DataFrame = {
    val base = spark.read.parquet(io.tablePath("doc_terms"))
      .select(col("doc_id"), col("dl"))
    activeBatches(io) match {
      case Seq() => base
      case bs => base.unionByName(
        spark.read.parquet(bs.map(segPath(io, _, "doc_lens")): _*))
    }
  }

  def docMap(spark: SparkSession, io: TableIO): DataFrame =
    unionView(spark, io, "doc_map", activeBatches(io))

  /** Exact df per term over base + active segments (disjoint doc sets ⇒
    * partial dfs add). Base-only indexes return the base table untouched —
    * no aggregate in the no-stream path. */
  def termStats(spark: SparkSession, io: TableIO): DataFrame = {
    val batches = activeBatches(io)
    if (batches.isEmpty) spark.read.parquet(io.tablePath("term_stats"))
    else unionView(spark, io, "term_stats", batches)
      .groupBy("term").agg(sum("df").as("df"))
  }

  /** The exact corpus stats of the committed view (base + active
    * segments), read from the current snapshot's properties: no job. */
  def corpusStats(io: TableIO): CorpusStats = {
    val p = io.props()
    CorpusStats(required(io, p, "n_docs").toLong,
      required(io, p, "avgdl").toDouble, required(io, p, "total_dl").toLong)
  }

  /** The next free doc id of a complete index: one past its `max_doc_id`
    * property (−1 on an empty corpus), which the build writes and each
    * committed batch advances, so no ingest scans for it. */
  def nextDocId(io: TableIO): Long =
    required(io, io.props(), "max_doc_id").toLong + 1

  /** Snapshot property `key` of `io` (its properties `p`). Every
    * current-format index carries the ones read here, so a directory
    * without one is refused with the rebuild it needs. */
  private def required(io: TableIO, p: Map[String, String],
      key: String): String =
    p.getOrElse(key, throw new IllegalStateException(s"${io.indexDir} has " +
      s"no `$key` snapshot property, which every ${PostingsBuilder.FormatStep} " +
      "index carries; rebuild the index"))

  /** `stats` as the snapshot properties [[corpusStats]] reads. */
  def statsProps(stats: CorpusStats): Map[String, String] = Map(
    "n_docs" -> stats.n_docs.toString,
    "total_dl" -> stats.total_dl.toString,
    "avgdl" -> java.lang.Double.toString(stats.avgdl))

  /** The postings table's schema: the block columns plus the `group`
    * partition column. Reads pass it so no schema-inference job runs. */
  val PostingsSchema: StructType =
    PostingsBuilder.BlockSchema.add("group", IntegerType)

  /** Postings blocks of the base + active segments only: partition-prunes to
    * committed groups, so a crashed batch's half-written group never reaches
    * a reader. Base blocks carry their term's global df as of the base
    * build; segment blocks carry a null df (the union's df is base plus
    * segments, which only a sum over every block can give: a serving open
    * sums it once for each term a segment holds). */
  def postings(spark: SparkSession, io: TableIO): DataFrame = {
    val active = activeBatches(io).map(GroupBase + _)
    spark.read.schema(PostingsSchema).parquet(io.tablePath("postings"))
      .where(col("group") < GroupBase || col("group").isin(active: _*))
  }
}
