package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.index.{DocIds, IndexTables, PostingsBuilder, TextIndex}
import graft.io.TableIO
import graft.model.CorpusStats

/** Structured-Streaming incremental index ingest: `readStream` over a
  * directory of input_hint parquet (new crawl files) → `foreachBatch` →
  * per-batch segment write, exactly-once.
  *
  * Append model (doc-sharded index): a batch's docs get fresh dense ids past
  * the current max, so its shards are DISJOINT from existing ones. The batch
  * writes an immutable SEGMENT — batch-keyed doc_lens/doc_map/term_stats
  * tables plus its own postings group — ALL with overwrite semantics (see
  * [[graft.index.IndexTables]] for the storage model), and commits the
  * `stream_g<batchId>` manifest step LAST, with the merged corpus stats.
  * Exactly-once follows without any merge bookkeeping: a replayed batch
  * (crash anywhere before the commit) recomputes the same inputs — the
  * committed view cannot have advanced, micro-batches are sequential — and
  * overwrites byte-identical segment files; a replay AFTER the commit
  * no-ops on the step check. Readers union
  * base + committed segments, so global statistics stay exact (N, total_dl,
  * df all additive over disjoint doc sets) and query-time scores — always
  * computed from stored (tf, dl) + merged stats — remain exact BM25 over
  * the union corpus.
  *
  * Only the stored block-max bounds go stale when avgdl shifts; the
  * Searcher detects active streamed segments via the manifest and switches
  * WAND to the avgdl-independent bound tf/(tf+k1(1−b)) (pruning weakens,
  * exactness holds). Cross-batch url re-crawls are appended as new docs —
  * [[Compactor.compact]] collapses them last-write-wins into a fresh base
  * (the ES doc-id overwrite semantics), which also re-tightens the bounds.
  */
object IncrementalIndexer {

  /** Append one batch of input_hint rows to an existing complete index. */
  def ingestBatch(spark: SparkSession, batch: DataFrame, indexDir: String,
                  batchId: Long, cfg: PostingsBuilder.Config): Unit = {
    Compactor.finishInterruptedSwap(indexDir) // mid-swap crash ⇒ recover first
    val io = new TableIO(indexDir)
    val step = s"stream_g$batchId"
    if (io.committedSteps().contains(step)) return // replay past commit → no-op
    // format-aware completeness: appending a current-format segment to an
    // older-format base would leave a mixed-schema postings table no
    // reader can open — an old base must rebuild, not accept segments
    require(PostingsBuilder.isComplete(indexDir),
      s"incremental ingest requires a complete current-format base index at $indexDir")

    // next free doc id from the manifest property (one tiny metadata read,
    // not an O(corpus) doc_lens scan per micro-batch; advanced atomically
    // with this batch's commit below so replay recomputes the same ids)
    val nextId = IndexTables.nextDocId(io)

    // extract + within-batch LWW dedup (the same row_number-window dedup as
    // the batch build), then dense ids continuing the id space — DocIds
    // tag/resolve protocol: `_mid` is materialized in the staged write and
    // ids are derived from the files, never from a replannable in-memory
    // layout. The staged write is itself an idempotent overwrite.
    val deduped = graft.web.WebIndex.extractAndDedup(batch)
      .select(col("url"), col("extracted").as("text"))
    DocIds.tag(deduped)
      .write.mode("overwrite").parquet(io.tablePath(s"stream_docs/batch=$batchId"))
    val withIds = DocIds.resolve(
      spark.read.parquet(io.tablePath(s"stream_docs/batch=$batchId")))
      .withColumn("doc_id", col("doc_id") + lit(nextId))
      .select("doc_id", "url", "text")

    // one tokenization pass for the batch — row-local tf (no token shuffle,
    // no tf⋈dl join; same kernel as the batch build)
    val docTerms = TextIndex.docTermFreqs(withIds).cache()
    val (stats, batchMax) = appendSegment(spark, io, docTerms, batchId, cfg,
      docMapKeys = Some(withIds.select(col("doc_id"), col("url"))))
    // new top of the id space (an empty batch keeps the old max), committed
    // atomically with the batch step
    val newMax = batchMax.getOrElse(nextId - 1)
    docTerms.unpersist()
    // the single visibility point (atomic RMW of step, max_doc_id and the
    // merged corpus stats)
    io.commitStep(step, IndexTables.statsProps(stats) +
      ("max_doc_id" -> newMax.toString))
  }

  /** The reusable segment-append core: write one immutable batch segment
    * (doc_lens / term_stats [+ doc_map when the index keeps one] + its
    * postings group) for an already-id-assigned per-doc tf relation, and
    * return the corpus stats of the index with the segment merged in, and
    * the batch's max doc_id (None for an empty batch).
    * Everything is an idempotent overwrite; the caller commits the
    * `stream_g<batchId>` visibility step with those stats (per sub-index —
    * the fielded ingest appends one segment per field dir, each committing
    * its own step so replay skips exactly the finished fields). */
  private[streaming] def appendSegment(spark: SparkSession, io: TableIO,
      docTerms: DataFrame, batchId: Long, cfg: PostingsBuilder.Config,
      docMapKeys: Option[DataFrame] = None): (CorpusStats, Option[Long]) = {
    val stats0 = IndexTables.corpusStats(io)
    val dl = docTerms.select(col("doc_id"), col("dl"))

    // batch-local stats in one aggregate (the segment's additive delta;
    // avgdl of the MERGED corpus is what the posting encode normalizes
    // with); sum and max are null on an empty batch
    val batchAgg = dl.agg(count(lit(1)), sum("dl"), max("doc_id")).head()
    val n1 = batchAgg.getLong(0)
    val dl1 = if (batchAgg.isNullAt(1)) 0L else batchAgg.getLong(1)
    val max1 = if (batchAgg.isNullAt(2)) None else Some(batchAgg.getLong(2))
    val nMerged = stats0.n_docs + n1
    // an empty merged corpus (a field nothing has values for) has no
    // meaningful avgdl; 0.0 keeps the encode total and the stats sane
    val avgdlNew =
      if (nMerged == 0) 0.0 else (stats0.total_dl + dl1).toDouble / nMerged

    def seg(table: String) = IndexTables.segPath(io, batchId, table)
    dl.write.mode("overwrite").parquet(seg("doc_lens"))
    docMapKeys.foreach { keys =>
      keys.join(dl, "doc_id")
        .select(col("doc_id"), col(keys.columns(1)),
          col("dl").cast("int").as("dl"))
        .write.mode("overwrite").parquet(seg("doc_map"))
    }
    docTerms.select(explode(col("tfs.term")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(seg("term_stats"))

    // batch postings: new group (disjoint from build groups); same shuffle
    // shape as the batch build — fat per-doc rows by doc_shard, explode
    // after the exchange
    PostingsBuilder.invertStage(
      docTerms.withColumn("doc_shard",
        (col("doc_id") / lit(cfg.shardSize)).cast("int")),
      avgdlNew, cfg.blockSize,
      math.max(spark.conf.get("spark.sql.shuffle.partitions").toInt,
        ((n1 + cfg.invertPartitionDocs - 1) / cfg.invertPartitionDocs).toInt))
      .write.mode("overwrite")
      .parquet(io.tablePath(s"postings/group=${IndexTables.GroupBase + batchId}"))
    (CorpusStats(nMerged, avgdlNew, stats0.total_dl + dl1), max1)
  }

  /** Start the streaming ingest over a directory of input_hint parquet. */
  def start(spark: SparkSession, sourceDir: String, indexDir: String,
            checkpointDir: String,
            cfg: PostingsBuilder.Config): StreamingQuery = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("url", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("warc_ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("html", org.apache.spark.sql.types.BinaryType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType)))
    spark.readStream.schema(schema).parquet(sourceDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(batch.sparkSession, batch, indexDir, batchId, cfg)
      }
      .start()
  }
}
