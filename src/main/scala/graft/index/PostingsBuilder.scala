package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.TableIO
import graft.model.{CorpusStats, PostingBlock}
import graft.query.Bm25

/** Builds the on-disk inverted index from a corpus DataFrame (doc_id, text).
  *
  * Physical design for 10^12-doc scale (north_rule):
  *
  *  - **Doc-sharded index** (the Lucene/ES shard model the reference's
  *    Elasticsearch cluster uses): `doc_shard = doc_id / shardSize`. Every
  *    shard holds complete-but-short posting lists for its doc range, so a
  *    Zipf-head term ("the") contributes at most `shardSize` postings to any
  *    one partition — per-partition work is bounded BY CONSTRUCTION rather
  *    than by salting heuristics, queries are embarrassingly parallel across
  *    shards, and top-k merges through TakeOrderedAndProject. The classic
  *    term-range layout would need salted repartitionByRange + a second merge
  *    pass to defeat the same skew (SURVEY §2.6); doc-sharding makes that a
  *    non-problem and matches how the reference system actually scales.
  *  - **Single tokenization pass, zero token shuffle.** The analysis chain
  *    is the CPU-hot stage, and snapshot steps re-execute lazy lineage, so
  *    the per-doc relation (doc_id, dl, tfs[]) is computed by the row-local
  *    [[graft.analysis.AnalyzeTfExpr]] kernel (tf is document-local work —
  *    it never needs a shuffle) and materialized ONCE as the `doc_terms`
  *    staged table; dl, stats, df, and the posting encode all derive from
  *    that one pass. Staged materialization is also what makes each step
  *    independently resumable.
  *  - **Shuffles**: exactly ONE corpus-sized shuffle in the whole build —
  *    the per-DOC rows (doc_id, dl, tfs[]) repartitioned by doc_shard
  *    (~100× fewer rows than shuffling the exploded token relation).
  *    df/stats aggregate with map-side partials (shuffle ≤ vocab ×
  *    partitions rows). All exact (no approximations, per north_rule).
  *  - **Invert kernel** ([[invertRows]]): the Lucene in-memory-segment
  *    model — within each shard, docs stream in doc_id order and postings
  *    append to per-term block buffers that flush every blockSize postings.
  *    No posting-level explode, no posting-level sort: the only sort is the
  *    per-DOC (doc_shard, doc_id) ordering. Memory is bounded by
  *    vocab(shard) × blockSize pending postings (the Lucene indexing-RAM
  *    constraint — shardSize is the segment-size knob). Runs at the
  *    Tungsten level (Bridge.internalMapPartitions): no per-posting object
  *    or String materializes, which is what keeps the stage off the DRAM
  *    bandwidth wall at high core counts.
  *  - **Resumability**: every stage is a committed snapshot step; shard
  *    groups subdivide the postings stage. A killed build resumes from the
  *    last committed step via the [[TableIO]] manifest. Lineage rows
  *    (shard, doc range, bytes, wall-time) land in a metrics table.
  *  - **Reproducibility**: every index table is a function of the input
  *    alone; the only run-dependent values are wall times, which the
  *    driver measures and writes to `lineage` and the manifest.
  */
object PostingsBuilder {

  final case class Config(
      shardSize: Long = 1L << 20,
      shardGroups: Int = 1,
      blockSize: Int = Codec.BlockSize,
      /** Target docs per invert-stage partition. The exploded per-partition
        * posting relation (~docs × avgdl rows) must fit the task's
        * execution memory or the Tungsten sort spills — a FIXED shuffle
        * width that was right at 1M docs silently spills at 5M (measured
        * 2× per-doc wall at 4.8M docs / 64 partitions). Sizing partitions
        * by docs keeps per-task memory flat at any corpus size — the same
        * rule a 1000-executor cluster needs. */
      invertPartitionDocs: Long = 16384,
      /** Cadence of the live docs/sec progress signal (reference S14:
        * every 100k docs below 1M, then every 1M —
        * elastic/elastic.go:175-176): marks every `progressEvery` docs up
        * to 10×, then every 10×. 0 disables. */
      progressEvery: Long = 100000L,
      /** test hook: simulate a crash after committing group g */
      failAfterGroup: Option[Int] = None)

  /** All committed steps present ⇒ the index is complete and reusable. */
  val FinalStep = "lineage"

  /** On-disk codec format marker, committed before any data step. An index
    * whose manifest lacks the CURRENT marker was written by an older codec
    * (e.g. the pre-PFor varbyte blocks) and is unreadable by the current
    * decoder — [[ensureFormat]] wipes it so callers rebuild instead of
    * serving garbage from a stale cached directory. */
  // v3: positions tier (PostingBlock.pos); v4: term_stats sorted by term
  // with the numeric shadow column (dictionary-range pruning); v5: each
  // base block carries its term's global df (PostingBlock.df); v6: corpus
  // stats are snapshot properties, not a `stats` table, and blocks carry no
  // encode wall time
  val FormatStep = "format_pfor6"

  /** Invalidate an index directory written under an older block format,
    * then stamp the current marker — committed BEFORE any data step, so a
    * nested build over the same directory (WebIndex staging → postings
    * build) sees the marker and never wipes freshly staged tables. */
  def ensureFormat(io: TableIO): Unit = {
    val done = io.committedSteps()
    if (done.nonEmpty && !done.contains(FormatStep)) io.deleteAll()
    io.step(FormatStep) {}
  }

  /** Complete AND current-format: an index with every data step but an
    * older codec marker must read as incomplete, or callers that gate on
    * isComplete (fixture ensure-paths, the CLI's append branch) would
    * serve blocks the current decoder cannot read. */
  def isComplete(indexDir: String): Boolean = {
    val steps = new TableIO(indexDir).committedSteps()
    steps.contains(FinalStep) && steps.contains(FormatStep)
  }

  /** Build the postings index. `concurrentSteps` (e.g. the caller's doc_map
    * write) run in parallel with the postings stage — they may depend on
    * any table staged BEFORE postings (doc_terms). `docTermFn` maps
    * the input corpus to the per-doc (doc_id, dl, tfs[]) relation — the
    * default analyzes a `text` column with the stopword chain; fielded
    * builds ([[FieldedIndex]]) pass a chain-specific variant. */
  def build(spark: SparkSession, docs: DataFrame, indexDir: String,
            cfg: Config = Config(),
            concurrentSteps: Seq[(String, () => Unit)] = Nil,
            docTermFn: DataFrame => DataFrame = TextIndex.docTermFreqs(_)): TableIO = {
    val io = new TableIO(indexDir)
    // idempotent re-run: complete only when FinalStep AND every concurrent
    // step committed — async members commit independently, so a crash after
    // `lineage` but before e.g. `doc_map` must fall through and re-run the
    // missing members (stepsAsync skips the committed ones).
    ensureFormat(io)
    val done = io.committedSteps()
    if (done.contains(FinalStep) &&
        concurrentSteps.forall { case (n, _) => done.contains(n) }) return io

    // THE tokenization pass: per-doc row-local tf (AnalyzeTfExpr — zero
    // shuffle), materialized once and reused by every later step. dl rides
    // in the same row, so no tf⋈dl join exists anywhere in the build — and
    // no separate doc_lens table either: (doc_id, dl) is a column-pruned
    // projection of this staged table (IndexTables.docLens), so
    // materializing it again would only add a step barrier.
    io.step("doc_terms") {
      // live cadence (reference S14): rows written by this stage == docs
      // analyzed, so the listener's output-record counter is the exact
      // per-doc progress stream; the interval rows land as the `progress`
      // table next to lineage (the metrics story), the lines on stderr.
      // unique job group: the listener is context-global, and concurrent
      // sibling builds (a fielded build's 12 sub-builds) would otherwise be
      // counted into THIS reporter's docs/sec stream
      val gid = s"graft-progress-${java.util.UUID.randomUUID()}"
      val reporter =
        if (cfg.progressEvery > 0)
          Some(new graft.meta.ProgressReporter(cfg.progressEvery,
            cfg.progressEvery * 10, cfg.progressEvery * 10,
            groupId = Some(gid)))
        else None
      reporter.foreach(spark.sparkContext.addSparkListener)
      try {
        // setJobGroup is thread-local, so each concurrent sub-build tags
        // only its own jobs (stepsPar bodies run on their own threads).
        // The caller's own group (e.g. a host app's cancellation group) is
        // saved and restored, not clobbered.
        val sc = spark.sparkContext
        val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
        val prevDesc = sc.getLocalProperty("spark.job.description")
        val prevInterrupt = sc.getLocalProperty("spark.job.interruptOnCancel")
        sc.setJobGroup(gid, "graft doc_terms stage", interruptOnCancel = false)
        try docTermFn(docs)
          .write.mode("overwrite").parquet(io.tablePath("doc_terms"))
        finally {
          sc.setLocalProperty("spark.jobGroup.id", prevGroup)
          sc.setLocalProperty("spark.job.description", prevDesc)
          sc.setLocalProperty("spark.job.interruptOnCancel", prevInterrupt)
        }
        reporter.foreach { r =>
          org.apache.spark.sql.graftbridge.Bridge
            .drainListenerBus(spark.sparkContext)
          if (r.intervals.nonEmpty)
            spark.createDataFrame(r.intervals)
              .write.mode("overwrite").parquet(io.tablePath("progress"))
        }
      } finally reporter.foreach(spark.sparkContext.removeSparkListener)
    }
    val docTerms = spark.read.parquet(io.tablePath("doc_terms"))

    // stats is the ONLY derivation gating the postings stage (avgdl
    // normalizes the block-max bounds): one tiny column-pruned aggregate
    // over doc_terms (which has EVERY doc, including zero-token ones that
    // never reach postings/lineage), run alone so its single task is not
    // queued behind sibling stages. Its results are snapshot properties:
    // the corpus stats every reader takes from the manifest, and
    // max_doc_id, the next free id streamed ingest reads instead of
    // scanning a corpus-sized table per micro-batch (−1 = empty corpus).
    io.stepProps("stats") {
      val r = docTerms.agg(count(lit(1)), avg(col("dl")),
        sum(col("dl")).cast("long"), max(col("doc_id"))).head()
      // an EMPTY corpus (legal for a fielded build whose field has no
      // values anywhere) aggregates avg/sum/max to null
      def orElse[T](i: Int, zero: T): T =
        if (r.isNullAt(i)) zero else r.getAs[T](i)
      IndexTables.statsProps(CorpusStats(r.getLong(0), orElse(1, 0.0),
        orElse(2, 0L))) + ("max_doc_id" -> orElse(3, -1L).toString)
    }
    val stats = IndexTables.corpusStats(io)

    // Every other derivation OVERLAPS the heavy postings stage below
    // instead of serializing before it (the round-1 barrier structure cost
    // ~5s of fixed serial wall per build at 8 cores — the main scaling
    // leak). df per term: terms are unique within a doc's tfs, so count(*)
    // over the exploded terms is exact df; partial aggregation caps its
    // shuffle at (vocab × input partitions) rows regardless of corpus size.
    val termDfs = docTerms.select(explode(col("tfs.term")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    // The table is range-partitioned and sorted BY TERM so every
    // dictionary-range operation (prefix / numeric-range / wildcard
    // expansion — Lucene's MultiTermQuery rewrites, which seek the FST)
    // becomes a min/max-pruned parquet scan instead of a full vocabulary
    // pass; the extra exchange moves vocab-sized rows once at build time.
    val overlapped = io.stepsAsync(
      (("term_stats" -> (() =>
        termDfs
          // numeric shadow column: parquet min/max stats on it prune
          // numeric-range expansions (the BKD-tree analogue); null for
          // non-numeric terms
          .withColumn("term_num", expr("try_cast(term AS BIGINT)"))
          .repartitionByRange(col("term")).sortWithinPartitions("term")
          .write.mode("overwrite").parquet(io.tablePath("term_stats"))))
        +: concurrentSteps): _*)

    // Shuffle the per-doc rows (doc_id, dl, tfs[]) by doc_shard, then explode
    // AFTER the exchange: ~100× fewer shuffle rows (and ~3× fewer bytes) than
    // shuffling the exploded (term, doc) relation, and every shard lands
    // whole in one partition — postings files are then self-contained per
    // shard, which is what lets the query path scan without re-shuffling.
    // Zipf head terms cannot skew this exchange: partitions are doc ranges,
    // and per-partition work is bounded by shardSize × avgdl by construction.
    val sharded = docTerms
      .withColumn("doc_shard",
        (col("doc_id") / lit(cfg.shardSize)).cast("int"))
    val invertParts = math.max(
      spark.conf.get("spark.sql.shuffle.partitions").toInt,
      ((stats.n_docs + cfg.invertPartitionDocs - 1) /
        cfg.invertPartitionDocs).toInt)

    try {
      for (g <- 0 until cfg.shardGroups) {
        io.stepProps(s"postings_g$g") {
          val t0 = System.nanoTime()
          // flat layout (no partitionBy): queries prune by TERM via row-group
          // min/max stats (rows are term-sorted within files), and every query
          // touches every doc shard anyway — directory partitioning by shard
          // would only buy a slow many-directory dynamic-partition commit and
          // a small-files problem. doc_shard stays as a regular column.
          invertStage(
            sharded.filter(pmod(col("doc_shard"), lit(cfg.shardGroups)) === g),
            stats.avgdl, cfg.blockSize,
            math.max(1, invertParts / cfg.shardGroups))
            // every block carries its term's global df, so a serving shard
            // computes idf from its own dictionary entry: the same exact
            // aggregate term_stats writes, broadcast and hash-joined here.
            // The join streams each encode partition through unchanged (no
            // exchange, row order kept), so every postings file still holds
            // whole doc shards; the aggregate's stage runs beside the
            // invert exchange instead of before it.
            .drop("df").join(broadcast(termDfs), Seq("term"), "left")
            .select(BlockSchema.fieldNames.map(col).toSeq: _*)
            .write.mode("overwrite")
            .parquet(io.tablePath(s"postings/group=$g"))
          // the group's wall time, measured on the driver so no block
          // carries a run-dependent value; lineage reports it per shard
          Map(wallProp(g) -> ((System.nanoTime() - t0) / 1000000L).toString)
        }
        cfg.failAfterGroup.filter(_ == g).foreach { _ =>
          throw new RuntimeException(s"injected failure after group $g")
        }
      }
    } catch { case e: Throwable =>
      // a failed postings stage must not leave async members racing a
      // caller's retry of build(); wait them out, surface the ORIGINAL error
      try overlapped.join() catch { case _: Throwable => () }
      throw e
    }

    overlapped.join() // term_stats + caller steps done before completion
    io.step(FinalStep) {
      val snapId = io.currentSnapshotId().getOrElse("0")
      val props = io.props()
      val walls = typedLit((0 until cfg.shardGroups).map(g =>
        g -> props.get(wallProp(g)).fold(0L)(_.toLong)).toMap)
      spark.read.schema(IndexTables.PostingsSchema)
        .parquet(io.tablePath("postings"))
        .groupBy(col("doc_shard"))
        .agg(
          min(col("first_doc_id")).as("doc_lo"),
          max(col("last_doc_id")).as("doc_hi"),
          sum(col("n")).cast("long").as("n_postings"),
          count(lit(1)).as("n_blocks"),
          sum(length(col("doc_ids")) + length(col("tfs")) +
            length(col("dls")) + length(col("pos")))
            .cast("long").as("postings_bytes"))
        .withColumn("build_wall_ms", element_at(walls,
          pmod(col("doc_shard"), lit(cfg.shardGroups))))
        .withColumn("snapshot_id", lit(snapId))
        .write.mode("overwrite").parquet(io.tablePath("lineage"))
    }
    io
  }

  /** The manifest property holding postings group `g`'s build wall ms. */
  private def wallProp(g: Int): String = s"postings_g${g}_wall_ms"

  /** PostingBlock's DataFrame schema (invertStage output, df null). */
  val BlockSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.Encoders.product[PostingBlock].schema

  /** The posting-build stage over per-doc rows (doc_shard int, doc_id long,
    * dl, tfs array<struct<term,tf>>): repartition the fat rows by shard
    * (~100× fewer shuffle rows than the token relation), explode AFTER the
    * exchange, Tungsten-sort by (shard, term, doc_id), stream-encode.
    *
    * Deliberately sort-based: a hash-invert kernel (per-term buffers) was
    * measured 3× MORE cpu at 32 cores — random per-posting access across a
    * vocabulary-sized working set thrashes the cache exactly when many
    * cores share it, while the radix sort's sequential passes scale. This
    * is why external-sort inversion is the classic construction. */
  def invertStage(docTermsSharded: DataFrame, avgdl: Double,
                  blockSize: Int, numPartitions: Int = 0): DataFrame = {
    // positions ride along when the analyze kernel produced them (fielded
    // chains — ES text fields index positions by default); the webtext
    // body kernel omits them (docs/freqs index_options) and the encoder
    // stores zero bytes
    val tfsElem = docTermsSharded.schema("tfs").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val posCol =
      if (tfsElem.fieldNames.contains("pos")) col("t.pos")
      else lit(null).cast(org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType, containsNull = false))
    val sorted = (if (numPartitions > 0)
        docTermsSharded.repartition(numPartitions, col("doc_shard"))
      else docTermsSharded.repartition(col("doc_shard")))
      .select(col("doc_shard"), col("doc_id"),
        col("dl").cast("int").as("dl"), explode(col("tfs")).as("t"))
      .select(col("doc_shard"), col("t.term").as("term"), col("doc_id"),
        col("t.tf").as("tf"), col("dl"), posCol.as("pos"))
      .sortWithinPartitions("doc_shard", "term", "doc_id")
    org.apache.spark.sql.graftbridge.Bridge.internalMapPartitions(
      sorted, BlockSchema)(encodeInternalRows(avgdl, blockSize))
  }

  /** Tungsten-level streaming block encoder over (doc_shard, term, doc_id)-
    * sorted rows (doc_shard int @0, term string @1, doc_id long @2,
    * tf int @3, dl int @4). Input rows are REUSED buffers (UnsafeRow) — the
    * current term is retained via clone() only on group change; no
    * per-posting object or String materializes. */
  def encodeInternalRows(avgdl: Double, blockSize: Int)(
      rows: Iterator[org.apache.spark.sql.catalyst.InternalRow])
      : Iterator[org.apache.spark.sql.catalyst.InternalRow] =
    new Iterator[org.apache.spark.sql.catalyst.InternalRow] {
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
      import org.apache.spark.unsafe.types.UTF8String

      private val ids = new Array[Long](blockSize)
      private val tfs = new Array[Int](blockSize)
      private val dls = new Array[Int](blockSize)
      private val poss = new Array[Array[Int]](blockSize)
      private var n = 0
      private var curShard = Int.MinValue
      private var curTerm: UTF8String = null
      private var blockId = 0
      private val out = scala.collection.mutable.ArrayDeque.empty[InternalRow]
      private val noPos = Array.emptyIntArray

      private def flush(): Unit = {
        if (n == 0) return
        var maxNorm = 0.0
        var maxTf = 0
        var i = 0
        while (i < n) {
          val norm = Bm25.tfNorm(tfs(i).toDouble, dls(i).toDouble, avgdl)
          if (norm > maxNorm) maxNorm = norm
          if (tfs(i) > maxTf) maxTf = tfs(i)
          i += 1
        }
        out.append(new GenericInternalRow(Array[Any](
          curShard, curTerm, blockId, n, ids(0), ids(n - 1),
          Codec.encodeDocIds(java.util.Arrays.copyOf(ids, n)),
          Codec.encodeTfs(java.util.Arrays.copyOf(tfs, n)),
          Codec.encodeTfs(java.util.Arrays.copyOf(dls, n)),
          maxNorm, maxTf,
          Codec.encodePositions(java.util.Arrays.copyOf(poss, n)), null)))
        blockId += 1
        n = 0
      }

      private def pump(): Unit = {
        while (out.isEmpty && rows.hasNext) {
          val r = rows.next()
          val shard = r.getInt(0)
          val term = r.getUTF8String(1)
          if (shard != curShard || curTerm == null || !curTerm.equals(term)) {
            flush()
            curShard = shard
            curTerm = term.clone()
            blockId = 0
          }
          ids(n) = r.getLong(2); tfs(n) = r.getInt(3); dls(n) = r.getInt(4)
          poss(n) = if (r.isNullAt(5)) noPos else r.getArray(5).toIntArray()
          n += 1
          if (n == blockSize) flush()
        }
        if (out.isEmpty && n > 0) flush()
      }

      override def hasNext: Boolean = { if (out.isEmpty) pump(); out.nonEmpty }
      override def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException
        out.removeHead()
      }
    }
}
