package graft

import graft.index.Codec
import graft.model.PostingBlock
import graft.query.Bm25

/** One posting enriched with its doc length — the encode kernel's input.
  * dl is denormalized into the posting stream so posting blocks are fully
  * self-contained at query time (score = f(tf, dl, idf, avgdl); no doc-side
  * join on the query path). Costs ~1 varbyte/posting vs Lucene's 1-byte
  * lossy norm; the north_rule demands exact dl, so we pay it. */
case class TfRow(doc_shard: Int, term: String, doc_id: Long, tf: Int, dl: Int,
    pos: Array[Int] = Array.emptyIntArray)

/** The typed reference block encoder the kernel property specs build their
  * posting blocks with. */
object ReferenceEncoder {

  /** Streaming block encoder over the exploded (doc_shard, term, doc_id)-
    * sorted posting relation — the typed formulation of the build's invert
    * kernel. The WAND, phrase and span property specs encode their
    * generated corpora with it; no spec compares its blocks with the
    * kernel's. */
  def encodePartition(avgdl: Double, blockSize: Int)(
      rows: Iterator[TfRow]): Iterator[PostingBlock] = new Iterator[PostingBlock] {
    private val ids = new Array[Long](blockSize)
    private val tfs = new Array[Int](blockSize)
    private val dls = new Array[Int](blockSize)
    private val poss = new Array[Array[Int]](blockSize)
    private var n = 0
    private var curShard = -1
    private var curTerm: String = null
    private var blockId = 0
    private var pending: PostingBlock = null
    private var lookahead: TfRow = null

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
      pending = PostingBlock(curShard, curTerm, blockId, n, ids(0), ids(n - 1),
        Codec.encodeDocIds(java.util.Arrays.copyOf(ids, n)),
        Codec.encodeTfs(java.util.Arrays.copyOf(tfs, n)),
        Codec.encodeTfs(java.util.Arrays.copyOf(dls, n)),
        maxNorm, maxTf,
        Codec.encodePositions(java.util.Arrays.copyOf(poss, n)))
      blockId += 1
      n = 0
    }

    private def advance(): Unit = {
      while (pending == null && (lookahead != null || rows.hasNext)) {
        val r = if (lookahead != null) { val x = lookahead; lookahead = null; x }
                else rows.next()
        if (r.doc_shard != curShard || r.term != curTerm) {
          if (n > 0) { lookahead = r; flush() }
          else { curShard = r.doc_shard; curTerm = r.term; blockId = 0; buffer(r) }
        } else buffer(r)
      }
      if (pending == null && n > 0) flush()
    }

    private def buffer(r: TfRow): Unit = {
      ids(n) = r.doc_id; tfs(n) = r.tf; dls(n) = r.dl; poss(n) = r.pos
      n += 1
      if (n == blockSize) flush()
    }

    override def hasNext: Boolean = { if (pending == null) advance(); pending != null }
    override def next(): PostingBlock = {
      if (!hasNext) throw new NoSuchElementException
      val b = pending; pending = null; b
    }
  }
}
