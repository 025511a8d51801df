package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.index.{DocIds, FieldedIndex, IndexTables, PostingsBuilder, TextIndex}
import graft.index.FieldedIndex.FieldSpec
import graft.io.TableIO

/** Streaming ingest + LWW compaction for PER-FIELD indexes — the segment
  * model of [[IncrementalIndexer]]/[[Compactor]] applied to the fielded
  * layout the CLI builds (a doc's update must land in EVERY field's
  * sub-index, which is exactly what Elasticsearch's bulk `"index"` action
  * does across its per-field inverted lists).
  *
  * Batch anatomy (all idempotent overwrites; visibility points LAST):
  *
  *  1. within-batch LWW by key, dense ids continuing the TOP doc_id space
  *     (staged `stream_docs/batch=b` with `_mid` — the tag/resolve
  *     protocol), a top-level doc_map segment;
  *  2. one segment PER FIELD sub-index via the shared
  *     [[IncrementalIndexer.appendSegment]] core — per-field stats merge
  *     additively inside each sub-index exactly as in the single-index
  *     model, and each field dir commits its own `stream_g<b>` step with
  *     its merged stats, so a crashed batch resumes by redoing only the
  *     unfinished fields;
  *  3. the TOP manifest's `stream_g<b>` commit — the batch-level
  *     visibility point (the doc_map segment and "batch happened" fact).
  *
  * Between a field's commit and the top commit, that field serves the new
  * docs while doc_map does not yet resolve their keys — a crash-window
  * inconsistency bounded by replay (the same eventual-per-shard visibility
  * ES exhibits between bulk item and refresh).
  *
  * Re-crawled keys exist once per epoch until [[compact]] folds all
  * segments last-write-wins into a fresh fielded base (side-dir rebuild +
  * the crash-safe rename swap shared with [[Compactor]]); per-field
  * block-max bounds re-tighten at each field's merged avgdl, and
  * [[FieldedIndex.handleFor]]'s snapshot check reopens serving handles
  * automatically. */
object FieldedStreaming {

  /** Append one batch of (key + field columns) docs to a complete fielded
    * index. */
  def ingestBatch(spark: SparkSession, batch: DataFrame, indexDir: String,
                  fields: Seq[FieldSpec], keyCol: String, batchId: Long,
                  cfg: PostingsBuilder.Config): Unit = {
    Compactor.finishInterruptedSwap(indexDir)
    val io = new TableIO(indexDir)
    val step = s"stream_g$batchId"
    if (io.committedSteps().contains(step)) return // replay past commit
    // format-aware (see IncrementalIndexer): a pre-positions base must
    // rebuild rather than accept mixed-format segments
    require(FieldedIndex.isComplete(indexDir),
      s"fielded ingest requires a complete current-format fielded index at $indexDir")
    val present = fields.filter(f => batch.columns.contains(f.field))

    // next free doc id from the manifest property (one tiny metadata read;
    // written by build and advanced atomically with each batch's top
    // commit, so a replayed batch — crash anywhere before that commit —
    // recomputes the SAME ids)
    val nextId = IndexTables.nextDocId(io)

    // stage (idempotent overwrite), resolve ids from the persisted _mid,
    // within-batch LWW by key on arrival order — same semantics as build
    DocIds.tag(batch.select(col(keyCol).as("_key") +: present.map(f =>
        FieldedIndex.valsCol(batch, f.field).as(f.field)): _*))
      .write.mode("overwrite")
      .parquet(io.tablePath(s"stream_docs/batch=$batchId"))
    val resolved = DocIds.resolve(
      spark.read.parquet(io.tablePath(s"stream_docs/batch=$batchId")))
    val w = Window.partitionBy(col("_key")).orderBy(col("doc_id").desc)
    // cached: the doc_map write + every field segment re-reads this
    // batch-sized relation (≈13 jobs at the full mapping)
    val withIds = resolved
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
      .withColumn("doc_id", col("doc_id") + lit(nextId))
      .cache()

    // top-level doc_map segment (keys resolve once the TOP step commits)
    val keyName = spark.read.parquet(io.tablePath("doc_map")).columns(1)
    withIds.select(col("doc_id"), col("_key").as(keyName))
      .write.mode("overwrite")
      .parquet(IndexTables.segPath(io, batchId, "doc_map"))

    // one segment per field sub-index, appended CONCURRENTLY (independent
    // directories and manifests — same parallel shape as the build; Spark
    // interleaves the jobs); each field commits independently so a crashed
    // batch redoes only the unfinished fields on replay
    // a field mapped AFTER the base build has no sub-index to append to:
    // its staged batch column is carried anyway and the field becomes
    // searchable at the next compaction (the rebuild creates its
    // sub-index from the folded corpus) — static-mapping evolution via
    // compaction, never a mid-stream half-index
    val appendable = present.filter(f =>
      PostingsBuilder.isComplete(FieldedIndex.fieldDir(indexDir, f.field)))
    val failures =
      new java.util.concurrent.ConcurrentHashMap[String, Throwable]()
    val threads = appendable.map { f =>
      val t = new Thread(() => {
        try {
          val fio = new TableIO(FieldedIndex.fieldDir(indexDir, f.field))
          if (!fio.committedSteps().contains(step)) {
            val cleaned = filter(col(f.field), v => v.isNotNull && v =!= lit(""))
            val corpus = withIds.select(col("doc_id"), cleaned.as("vals"))
              .where(size(col("vals")) > 0)
            val docTerms = TextIndex.fieldDocTermFreqs(corpus, f.chain).cache()
            val (stats, _) =
              IncrementalIndexer.appendSegment(spark, fio, docTerms, batchId, cfg)
            docTerms.unpersist()
            fio.commitStep(step, IndexTables.statsProps(stats))
          }
        } catch { case e: Throwable => failures.put(f.field, e) }
      }, s"graft-ingest-${f.field}")
      t.setDaemon(true); t.start(); t
    }
    threads.foreach(_.join())
    // new top of the id space (batch-sized agg on the cached relation; an
    // empty batch keeps the old max) — committed ATOMICALLY with the batch
    // step below, so replay before the commit still reads the old value
    val newMax = IndexTables.maxDocId(withIds, default = nextId - 1)
    withIds.unpersist()
    if (!failures.isEmpty) {
      val k = failures.keys().nextElement()
      throw new RuntimeException(s"field segment '$k' failed", failures.get(k))
    }
    // batch-level visibility point (step + max_doc_id in one snapshot)
    io.commitStep(step, Map("max_doc_id" -> newMax.toString))
  }

  /** Structured-Streaming entry: watch a directory of parquet batches at
    * the given schema and ingest each micro-batch —
    * [[IncrementalIndexer.start]]'s fielded twin (exactly-once by the same
    * argument: idempotent segment overwrites + manifest-step visibility). */
  def start(spark: SparkSession, sourceDir: String,
            schema: org.apache.spark.sql.types.StructType, indexDir: String,
            fields: Seq[FieldSpec], keyCol: String, checkpointDir: String,
            cfg: PostingsBuilder.Config)
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.schema(schema).parquet(sourceDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(batch.sparkSession, batch, indexDir, fields, keyCol,
          batchId, cfg)
      }
      .start()

  /** Fold all active streamed batches into a fresh fielded base,
    * last-write-wins per key across epochs (arrival order). Returns true
    * if a compaction ran. */
  def compact(spark: SparkSession, indexDir: String, fields: Seq[FieldSpec],
              cfg: PostingsBuilder.Config): Boolean = {
    Compactor.finishInterruptedSwap(indexDir)
    val io = new TableIO(indexDir)
    val batches = IndexTables.activeBatches(io)
    if (batches.isEmpty) return false
    val maxEpoch = batches.max
    val keyName = spark.read.parquet(io.tablePath("doc_map")).columns(1)
    // fold every mapped field present in ANY epoch's staged schema — a
    // field first seen in a streamed batch (mapping evolution) gets its
    // sub-index built by this rebuild
    val stagedPaths = io.tablePath("docs") +:
      batches.map(b => io.tablePath(s"stream_docs/batch=$b"))
    val avail = stagedPaths.flatMap(p =>
      spark.read.parquet(p).columns).toSet
    val fieldCols = fields.map(_.field).filter(avail.contains)

    // union of the immutable staged corpora (base epoch −1 + segments),
    // LWW per key on (epoch, within-epoch arrival _mid). A batch staged
    // without some field column (schema drift across crawls) null-fills
    // it: the ES `"index"` action replaces the WHOLE document, so a
    // re-crawl that omits a field drops the field — replacement, not
    // patch.
    def staged(path: String, epoch: Long): DataFrame = {
      val df = spark.read.parquet(path)
      val vals = fieldCols.map(f =>
        if (df.columns.contains(f)) col(f)
        else lit(null).cast(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType)).as(f))
      df.select((col("_key") +: vals) :+
        col(DocIds.MidCol) :+ lit(epoch).as("_epoch"): _*)
    }
    val parts = staged(io.tablePath("docs"), -1L) +:
      batches.map(b => staged(io.tablePath(s"stream_docs/batch=$b"), b))
    val w = Window.partitionBy(col("_key"))
      .orderBy(col("_epoch").desc, col(DocIds.MidCol).desc)
    val lww = parts.reduce(_.unionByName(_))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col("_key") +: fieldCols.map(col): _*)

    // full fielded rebuild in a side dir (fresh shared ids, per-field
    // tight bounds at each field's merged avgdl)
    val tmpDir = s"$indexDir.compact"
    val tio = new TableIO(tmpDir)
    tio.deleteAll()
    FieldedIndex.build(spark, lww, tmpDir, fields, keyCol = "_key", cfg,
      docMapKeyName = keyName)

    // carry replay markers + retirement, THEN swap (ordering matters for
    // finishInterruptedSwap's roll-forward)
    tio.commit(tio.committedSteps() ++
      batches.map(b => s"stream_g$b") + s"compact_e$maxEpoch")
    Compactor.swapIn(indexDir, tmpDir)
    true
  }
}
