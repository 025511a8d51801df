package graft.model

/** Core engine row types (SURVEY.md §1.4 target data model). */

/** A compressed posting block: up to Codec.BlockSize postings of one term
  * within one doc shard. doc_ids are delta-gap varbyte; tfs/dls varbyte.
  * max_tf_norm is the exact per-block max of tf/(tf+k1(1-b+b·dl/avgdl)) —
  * the block-max WAND pruning bound — computed with the avgdl at encode
  * time; max_tf additionally enables the avgdl-independent fallback bound
  * tf/(tf+k1(1−b)) that stays valid after streaming appends shift avgdl.
  * Every field is a function of the input, so two builds of the same input
  * write the same blocks. */
case class PostingBlock(
    doc_shard: Int,
    term: String,
    block_id: Int,
    n: Int,
    first_doc_id: Long,
    last_doc_id: Long,
    doc_ids: Array[Byte],
    tfs: Array[Byte],
    dls: Array[Byte],
    max_tf_norm: Double,
    max_tf: Int,
    /** PFor-encoded per-doc token positions (Codec.encodePositions) —
      * present when the build stores positions (fielded text/keyword
      * chains, ES parity); empty for docs/freqs-only indexes (the webtext
      * body index — ES `index_options: freqs`, the deployment choice for a
      * 100-TB body field). */
    pos: Array[Byte] = Array.emptyByteArray,
    /** The term's exact df over the whole index (every shard), the same
      * value as its `term_stats` row: written into every base block at
      * build, so a shard can compute the term's idf without a df lookup.
      * None on streamed segment blocks, whose df is base plus segments: a
      * serving open sums the blocks of every term a segment holds once,
      * and serves that sum instead of any base block's df. */
    df: Option[Long] = None)

case class TermStat(term: String, df: Long)

/** total_dl keeps the exact token sum so streaming appends can merge
  * avgdl without accumulating FP error: avgdl = total_dl / n_docs. An index
  * stores its stats as snapshot properties ([[graft.index.IndexTables]]). */
case class CorpusStats(n_docs: Long, avgdl: Double, total_dl: Long)

/** Per-shard lineage/metrics row (north_rule: partition id, doc range,
  * postings bytes, build wall-time), written to the index's metrics table. */
case class LineageRow(
    doc_shard: Int,
    doc_lo: Long,
    doc_hi: Long,
    n_postings: Long,
    n_blocks: Long,
    postings_bytes: Long,
    build_wall_ms: Long,
    snapshot_id: String)

/** The webtext input row (BASELINE.json input_hint). */
case class WebDoc(url: String, warc_ts: java.sql.Timestamp, html: Array[Byte],
    text: String, lang: String)

/** url → dense doc_id + exact doc length. */
case class DocMapRow(doc_id: Long, url: String, dl: Int)
