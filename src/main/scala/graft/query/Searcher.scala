package graft.query

import scala.collection.immutable.ArraySeq
import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{DriverRows, ResidentView}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.analysis.Analyzer
import graft.io.TableIO
import graft.model.{CorpusStats, PostingBlock}

/** Top-k BM25 search over the on-disk doc-sharded index (SURVEY §3.3).
  *
  * Serving model (the ES/Lucene searcher analogue): [[open]] materializes —
  * ONCE — a term-keyed block index per doc shard, kept resident in executor
  * memory as a cached RDD of [[ShardIndex]] objects. Per-query work is then
  *
  *  1. analyze the query with the indexing chain (rank-identity
  *     precondition);
  *  2. the scoring fan-out: one narrow job, over the partitions that hold
  *     a shard, where every shard runs the block-max WAND kernel over its
  *     own hash-map (shards are disjoint doc ranges — embarrassingly
  *     parallel, the ES fan-out model). Each term's idf needs its GLOBAL
  *     df: the build writes it into every base posting block, so a shard
  *     reads it from its own dictionary entry. No full-vocabulary state
  *     ever reaches the driver: at 10^12 docs the dictionary stays sharded
  *     on the executors;
  *  3. per-shard top-k hits (k × shards × queries tuples, tiny) merge on the
  *     driver under the deterministic global ordering.
  *
  * A warm search, phrase, span_near or bool query is ONE Spark job; the
  * top-k frame is a driver-ordered local relation, so collecting it
  * launches nothing more. It is a [[DriverRows]] frame, so `collect`,
  * `count` and the other driver-returning actions answer from the merged
  * rows without Catalyst: planning and tracking a local scan of ~10 rows
  * cost more than the fan-out's own driver work (Catalyst's `count` of it
  * runs two jobs). Where a shard cannot know the global df — a handle
  * with active streamed segments (global df = base + segments), and the
  * match_phrase_prefix union slot, whose idf sums expansions a shard may
  * lack — the driver supplies it: a query-sized lookup job over the
  * cached shard indexes for terms the handle's df cache has not seen,
  * summing per-shard posting counts (df(term) = Σ_shards postings,
  * exactly the term_stats value). A batch in which no query keeps a
  * scorable term launches no fan-out at all. No shuffle, no sort, no scan
  * of non-query terms anywhere on the query path.
  *
  * Every job over a handle's resident shards that returns to the driver
  * (open's materialization, the df lookup, fuzzy candidates and the
  * fan-out) goes through [[runShards]] with a named [[ShardTask]], not a
  * lambda. Spark's ClosureCleaner re-reads and ASM-parses the class file
  * that defines each lambda handed to an RDD action — `RDD.class` or
  * `SparkContext.class` for the action's own wrappers, this object's class
  * for ours — on every job, which measured ~2.6 ms per clean and most of
  * a warm search's fixed cost; it returns at once for a function that is
  * not a lambda.
  *
  * Serving jobs run on a [[ResidentView]] of the materialized shard RDD,
  * not on the RDD itself, so a task binary carries the view (no
  * dependencies, ~2 KB) and the task, not open's parquet-scan lineage
  * and its generated code (~38 KB, deserialized again by every task of
  * every job). A view task reads its shard block from the block manager;
  * only when the block was evicted or lost does it deserialize that
  * lineage, broadcast once per handle, and recompute (and re-cache) the
  * partition.
  */
object Searcher {

  /** One (shard, term)'s postings: shard-local df (= Σ block n), the
    * blocks in global doc order (first_doc_id asc — block_id restarts per
    * posting group, so streamed appends interleave correctly) and the
    * term's global df from its blocks ([[PostingBlock.df]]; −1 when a block
    * lacks it, as streamed segment blocks do). */
  final class TermPostings(val df: Long, val blocks: Array[PostingBlock],
      val globalDf: Long = -1L) extends Serializable {
    /** The global df, for a query whose driver supplied none. */
    def indexDf: Long =
      if (globalDf >= 0) globalDf
      else throw new IllegalStateException(
        "a shard entry without a global df served a query with no driver df")
  }

  /** One doc shard's term → postings hash index. */
  final class ShardIndex(val shard: Int,
      val terms: java.util.HashMap[String, TermPostings]) extends Serializable {
    /** Fuzzy candidate sidecar (length buckets + class masks) — built
      * lazily on the first fuzzy/suggest query against this shard, cached
      * for the handle's lifetime (@transient: rebuilt after partition
      * eviction, never serialized). */
    @transient lazy val fuzzyDict: FuzzyDict = FuzzyDict.build(terms)
  }

  /** Field-qualified key inside a multi-field shard index. NUL never occurs
    * in FIELD names (mapping identifiers), so the first NUL delimits the
    * field unambiguously whatever bytes a keyword-chain term carries. */
  val FieldSep = "\u0000"

  /** The shard-map key prefix of `field` in a handle over `nFields` fields:
    * none on a one-field handle (its maps hold bare terms), `<field><NUL>`
    * otherwise. The one key rule: [[open]] writes keys with it and
    * [[Handle.key]] looks them up with it. */
  private def keyPrefix(nFields: Int, field: String): String =
    if (nFields == 1) "" else field + FieldSep

  /** One field of a handle: its sub-index directory, BM25 stats and bound
    * mode (each field scores under its own (N, avgdl, df)). */
  private final case class FieldState(dir: String, stats: CorpusStats,
      tight: Boolean)

  /** A query-server handle over one or more fields' sub-indexes: per-field
    * corpus stats loaded once, and one resident index per doc shard holding
    * every field's postings (the ES/Lucene segment shape), cached in
    * executor memory as an RDD of [[ShardIndex]] objects and served through
    * its [[ResidentView]] (`shards`): every job over the handle ships the
    * view's small task binary, and a task whose block is gone recomputes
    * it from open's lineage. Co-location makes
    * a multi-leg bool query one narrow kernel job ([[multiSearch]]). The
    * term dictionary stays distributed (inside the shard indexes) —
    * per-query metadata is looked up, never collected wholesale. The
    * single-field accessors require a one-field handle.
    *
    * Reopen contract (the Lucene IndexReader model): a handle is a
    * snapshot of the index AT OPEN TIME. After a [[graft.streaming
    * .Compactor.compact]] swaps the directory, an old handle keeps serving
    * its cached partitions consistently, but an evicted partition would
    * recompute against the NEW directory (different doc ids) — close and
    * reopen handles after compaction rather than serving through it. */
  final class Handle private[Searcher] (val spark: SparkSession,
      private[Searcher] val fields: Map[String, FieldState],
      private[graft] val shards: ResidentView[ShardIndex],
      /** The partitions holding at least one shard: serving jobs run only
        * these (an empty partition's task would do nothing but
        * deserialize the task binary). */
      private[Searcher] val parts: Array[Int],
      /** Every field is a bare base (no active streamed segments), so each
        * shard entry carries its term's global df and queries need no
        * driver-side df. */
      private[Searcher] val shardDfs: Boolean) extends AutoCloseable {
    /** Driver-side key→df memo (misses resolved by a distributed lookup;
      * 0 = known-absent). Query-sized growth — only terms actually queried
      * ever reach the driver, never the vocabulary. */
    private[Searcher] val dfCache =
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

    /** The shard-map key of `term` in `field` ([[keyPrefix]]). */
    private[Searcher] def key(field: String, term: String): String =
      keyPrefix(fields.size, field) + term

    private[Searcher] def only: FieldState = {
      require(fields.size == 1, s"not a one-field handle: ${fields.keys}")
      fields.head._2
    }
    def indexDir: String = only.dir
    def stats: CorpusStats = only.stats
    def tightBounds: Boolean = only.tight

    /** Releases the resident shards (the view's persisted source); a
      * stopped context has none left. */
    def close(): Unit = if (!shards.sparkContext.isStopped) shards.release()
  }

  /** The per-partition body of a serving job over resident shard indexes:
    * a named class, never a lambda, so `SparkContext.runJob` skips the
    * closure cleaner's class-file parse (see the object docs). */
  private abstract class ShardTask[U]
      extends ((TaskContext, Iterator[ShardIndex]) => U) with Serializable

  /** The one entry for serving jobs: one task per listed partition, results
    * in that order. */
  private def runShards[U: ClassTag](shards: RDD[ShardIndex],
      task: ShardTask[U], parts: Seq[Int]): Array[U] =
    shards.sparkContext.runJob(shards, task, parts)

  /** The shard ids each partition holds: one job over every partition,
    * which materializes the cache. */
  private def shardIds(shards: RDD[ShardIndex]): Array[Array[Int]] =
    runShards(shards, ShardIds, shards.partitions.indices)

  /** The shard ids a partition holds. */
  private object ShardIds extends ShardTask[Array[Int]] {
    def apply(ctx: TaskContext, it: Iterator[ShardIndex]): Array[Int] =
      it.map(_.shard).toArray
  }

  /** One bool/should leg: a field plus its analyzed term→weight bag.
    * `boost` is the ES per-field multiplier (`fields: ["title^2"]` /
    * bool clause `boost`): the leg's score — and every pruning bound —
    * scales by it. Folded into the cursor's idf at spec construction
    * (idf·boost), so the WAND kernel needs NO changes: score, global ub
    * and block-max bounds all carry the factor consistently, and θ
    * pruning stays exact. boost = 1.0 is bit-identical to the unboosted
    * path (IEEE ×1.0 is exact). */
  final case class MultiLeg(field: String, termWeights: Map[String, Int],
                            boost: Double = 1.0)

  /** One match_phrase clause of a bool query: a field plus the phrase's
    * analyzed occurrence list (term, tokenizer position) — the
    * [[graft.analysis.Analyzer.analyzeChainPos]] output, stopword gaps
    * preserved. `boost` scales the clause's summed idf (ES clause boost)
    * exactly like [[MultiLeg.boost]]. */
  final case class PhraseLeg(field: String, occs: Array[(String, Int)],
                             boost: Double = 1.0)

  /** Serializable per-cursor spec shipped to the scoring fan-out. `df` is
    * the driver-side global df, None when the shard's entry supplies it
    * ([[Handle.shardDfs]]); either way the cursor's idf is
    * `Bm25.idf(nDocs, df) * boost`, the one idf rule. */
  private final case class CursorSpec(key: String, df: Option[Long],
      nDocs: Long, boost: Double, weight: Int, avgdl: Double, tight: Boolean,
      leg: Int) {
    def idf(entry: TermPostings): Double =
      Bm25.idf(nDocs, df.getOrElse(entry.indexDf)) * boost
  }

  /** A cursor spec for `key` under `field`'s stats, or None when the
    * driver-side dfs (if any) show the key corpus-absent. */
  private def cursorSpec(fs: FieldState, key: String,
      dfs: Option[Map[String, Long]], weight: Int, boost: Double = 1.0,
      leg: Int = 0): Option[CursorSpec] =
    if (dfs.exists(!_.contains(key))) None
    else Some(CursorSpec(key, dfs.map(_(key)), fs.stats.n_docs, boost, weight,
      fs.stats.avgdl, fs.tight, leg))

  /** Serializable positional-clause spec: the keys of the clause's UNIQUE
    * terms, its position slots as indexes into them, its frequency law and
    * its scoring stats — a [[BlockMaxWand.PhraseCursor]] once a shard
    * supplies the blocks. `dfs` (aligned with `keys`) are driver-side
    * global dfs, None when the shard's entries supply them. */
  private final case class PhraseSpec(keys: Array[String],
      slots: Array[Array[Int]], law: Phrase.Law, dfs: Option[Array[Long]],
      nDocs: Long, boost: Double, avgdl: Double, tight: Boolean, leg: Int) {
    /** idf summed over every member, slot by slot, times boost. Without
      * driver dfs every slot is one term, so a key this shard lacks (null
      * entry) empties its slot: the clause matches nothing here and its
      * idf is moot. */
    def sumIdf(entries: Array[TermPostings]): Double = {
      val df: Int => Long = dfs match {
        case Some(d) => d
        case None => entries(_).indexDf
      }
      if (dfs.isEmpty && entries.contains(null)) 0.0
      else slots.iterator.map(_.iterator.map(i =>
        Bm25.idf(nDocs, df(i))).sum).sum * boost
    }
  }

  /** One query of a scoring fan-out: term cursors, positional clauses and
    * the ES bool context. `filterKeys`: None = no filter, Some = OR over the
    * corpus-present filter values (empty: no doc qualifies). */
  private final case class QuerySpec(qid: Int, terms: Array[CursorSpec],
      phrases: Array[PhraseSpec] = Array.empty,
      filterKeys: Option[Array[String]] = None,
      mustNotKeys: Array[String] = Array.empty, msm: Int = 1,
      tieBreaker: Double = -1.0, requiredMask: Long = 0L) {
    /** Some doc can match: a scorable clause, and a filter some doc carries. */
    def live: Boolean =
      (terms.nonEmpty || phrases.nonEmpty) && filterKeys.forall(_.nonEmpty)
  }

  /** A positional clause over `slots` of member keys, or None when the
    * driver-side dfs show some slot with no corpus-present member (the
    * conjunction matches nothing). A union slot (several members) needs
    * driver dfs: its idf sums members a shard may lack. `law` sees the
    * slots as indexes into the unique keys. */
  private def phraseSpec(slots: Seq[Seq[String]],
      dfs: Option[Map[String, Long]], fs: FieldState, leg: Int,
      boost: Double = 1.0)(
      law: Array[Array[Int]] => Phrase.Law): Option[PhraseSpec] =
    if (slots.isEmpty ||
        dfs.exists(m => slots.exists(_.forall(t => m.getOrElse(t, 0L) <= 0L))))
      None
    else {
      require(dfs.nonEmpty || slots.forall(_.length == 1),
        "a union slot needs driver-side dfs")
      val keys = slots.flatten.distinct.toArray
      val idx = keys.zipWithIndex.toMap
      val indexed = slots.map(_.map(idx).toArray).toArray
      Some(PhraseSpec(keys, indexed, law(indexed),
        dfs.map(m => keys.map(m.getOrElse(_, 0L))), fs.stats.n_docs, boost,
        fs.stats.avgdl, fs.tight, leg))
    }

  /** The global dfs of `keys` from the driver (the cached lookup) when the
    * handle's shards cannot supply them; None when they can. */
  private def driverDfs(h: Handle,
      keys: => Array[String]): Option[Map[String, Long]] =
    if (h.shardDfs) None else Some(resolveDfs(h, keys))

  /** The exact-phrase law of an analyzed (term, tokenizer position) list. */
  private def aligned(occs: Seq[(String, Int)]): Phrase.Law =
    Phrase.Aligned(occs.map(_._2 - occs.head._2).toArray)

  /** ES bool query against a handle: `legs` are should-clauses (scored,
    * summed per doc), `filter` is an optional (field, analyzed values) term
    * filter in filter context (unscored, OR over values), `minShouldMatch`
    * is the ES bool parameter counting matched clauses. Every clause's
    * field must be one the handle holds. One narrow kernel job over the
    * resident shards — the combined-bound WAND ([[BlockMaxWand.scoreCursors]])
    * prunes with θ = kth-best SUM, so a high-df leg's posting list is
    * skipped through, not decoded wholesale. Returns (rnk, doc_id, score_x6)
    * under the deterministic ordering. */
  def multiSearch(h: Handle, legs: Seq[MultiLeg], k: Int,
                  minShouldMatch: Int = 1,
                  filter: Option[(String, Seq[String])] = None,
                  disMaxTieBreaker: Double = -1.0,
                  phraseLegs: Seq[PhraseLeg] = Seq.empty,
                  mustNot: Option[(String, Seq[String])] = None,
                  requiredLegs: Seq[Int] = Seq.empty): DataFrame = {
    // clause ids (match legs, then phrase legs) index a 64-bit mask in the
    // kernel: refuse before any job runs
    require(legs.length + phraseLegs.length <= 64,
      s"a bool query takes at most 64 clauses, got " +
        s"${legs.length + phraseLegs.length}")
    require(requiredLegs.forall(l => l >= 0 && l < 64),
      "required leg ids must fit the bool-context bitmask (0..63)")
    require(legs.forall(_.boost > 0.0) && phraseLegs.forall(_.boost > 0.0),
      "leg boost must be > 0 (a zero boost would zero the leg's bounds " +
        "but still count it for minimum_should_match — drop the leg instead)")
    // a field the handle lacks has no keys to find: its legs would miss and
    // its filter would match nothing, so refuse it before any job runs
    val unheld = (legs.map(_.field) ++ phraseLegs.map(_.field) ++
      filter.map(_._1) ++ mustNot.map(_._1)).distinct.filterNot(h.fields.contains)
    require(unheld.isEmpty, s"field(s) ${unheld.mkString(", ")} not held " +
      s"by this handle (it holds ${h.fields.keys.toSeq.sorted.mkString(", ")})")
    def keys(fv: Option[(String, Seq[String])]): Array[String] =
      fv.toArray.flatMap { case (f, vs) => vs.map(h.key(f, _)) }
    val filterKeys = keys(filter)
    val mustNotKeys = keys(mustNot)
    val legKeys = legs.flatMap(l => l.termWeights.keys.map(h.key(l.field, _)))
    val phraseKeys = phraseLegs.flatMap(p => p.occs.map(o => h.key(p.field, o._1)))
    val dfByKey = driverDfs(h,
      (legKeys ++ phraseKeys ++ filterKeys ++ mustNotKeys).distinct.toArray)
    // cursor order fixed as (leg, term): the kernel's FP sum order — and so
    // the exact emitted doubles — is deterministic across runs
    val specs: Array[CursorSpec] = legs.zipWithIndex.flatMap { case (l, li) =>
      l.termWeights.toSeq.sortBy(_._1).flatMap { case (t, w) =>
        cursorSpec(h.fields(l.field), h.key(l.field, t), dfByKey, w, l.boost, li)
      }
    }.toArray
    // phrase clauses number their legs AFTER the should-legs; a clause with
    // any corpus-absent term matches nothing (conjunction)
    val phraseSpecs: Array[PhraseSpec] = phraseLegs.zipWithIndex.flatMap {
      case (pl, pi) =>
        phraseSpec(pl.occs.toSeq.map(o => Seq(h.key(pl.field, o._1))), dfByKey,
          h.fields(pl.field), legs.length + pi, pl.boost)(
          _ => aligned(pl.occs.toSeq))
    }.toArray
    // single bool query ⇒ one qid (0)
    fanOutTopK(h, k, Seq(QuerySpec(0, specs, phraseSpecs,
      filter.map(_ => dfByKey.fold(filterKeys)(m => filterKeys.filter(m.contains))),
      mustNotKeys, minShouldMatch, disMaxTieBreaker,
      requiredLegs.foldLeft(0L)((m, l) => m | (1L << l)))), withQid = false)
  }

  private val BlockCols = Seq("doc_shard", "term", "block_id", "n",
    "first_doc_id", "last_doc_id", "doc_ids", "tfs", "dls", "max_tf_norm",
    "max_tf", "enc_wall_ms", "pos", "df")

  /** Open a one-field handle over `indexDir`; its field is unnamed (""). */
  def open(spark: SparkSession, indexDir: String): Handle =
    open(spark, Seq("" -> indexDir))

  /** Open a handle over per-field sub-index directories (field → dir),
    * committed streamed segments included; each field keeps its own stats
    * and bound mode. */
  def open(spark: SparkSession, fieldDirs: Seq[(String, String)]): Handle = {
    require(fieldDirs.nonEmpty && fieldDirs.toMap.size == fieldDirs.length,
      s"a handle needs distinct fields, got ${fieldDirs.map(_._1)}")
    val ios = fieldDirs.map { case (f, d) =>
      // a compaction crashed mid-swap must not leave the index unopenable
      // until the NEXT compaction: finish (or roll back) the swap here too
      graft.streaming.Compactor.finishInterruptedSwap(d)
      f -> new TableIO(d)
    }
    val fields = ios.map { case (f, io) =>
      f -> FieldState(io.indexDir,
        graft.index.IndexTables.corpusStats(spark, io), tightBoundsOf(io))
    }.toMap
    // Fast path (no active streamed segments — the compacted common case):
    // the encode stage hash-repartitions by doc_shard and writes one file
    // per task, so every postings FILE holds whole, internally-sorted
    // shards — the shard co-location a shuffle would buy already exists ON
    // DISK. Read files unsplit (split size ≥ total/width so packing, not
    // splitting, forms partitions) and build hash indexes in place: open
    // cost is a local scan, not an index-sized all-to-all — on a cluster
    // the difference between shuffling the whole postings table through
    // the network at every serving start and reading HDFS-local blocks.
    // A tiny guard verifies no shard spans partitions (the only way the
    // format property could be violated) and falls back to the shuffle
    // path. With active segments the slow path is REQUIRED: a partially
    // filled tail shard continues into the segment's files, and its blocks
    // must merge into one serving index. Several fields take the shuffle
    // too: it co-locates their doc shards once per serving generation (the
    // cost Lucene pays at segment write time instead).
    val bare = ios.forall { case (_, io) =>
      graft.index.IndexTables.activeBatches(io).isEmpty }
    val (shards, ids) = (ios match {
      case Seq((_, io)) if bare => openUnshuffled(spark, io)
      case _ => None
    }).getOrElse(openShuffled(spark, ios))
    new Handle(spark, fields, new ResidentView(shards),
      ids.indices.filter(ids(_).nonEmpty).toArray, shardDfs = bare)
  }

  /** The shuffle open: co-locate each shard (base + streamed segments, of
    * every field, keyed by [[keyPrefix]]), stream its (key, first_doc_id)-
    * sorted blocks into a hash index. partitions = total cores, NOT
    * spark.sql.shuffle.partitions: per-query work per shard is
    * microseconds, so query jobs are task-scheduling-bound — one task per
    * core per wave is the latency-optimal width (on a cluster: one serving
    * slot per executor core, the ES fan-out model). */
  private def openShuffled(spark: SparkSession, ios: Seq[(String, TableIO)])
      : (RDD[ShardIndex], Array[Array[Int]]) = {
    import spark.implicits._
    val sorted = ios.map { case (f, io) =>
      val blocks = graft.index.IndexTables.postings(spark, io)
        .select(BlockCols.head, BlockCols.tail: _*)
      val prefix = keyPrefix(ios.length, f)
      if (prefix.isEmpty) blocks
      else blocks.withColumn("term", concat(lit(prefix), col("term")))
    }.reduce(_.unionByName(_))
      .repartition(spark.sparkContext.defaultParallelism, col("doc_shard"))
      .sortWithinPartitions("doc_shard", "term", "first_doc_id")
      .as[PostingBlock]
    // MEMORY_AND_DISK, not MEMORY_ONLY: when the corpus outgrows executor
    // memory, a dropped MEMORY_ONLY partition replays the whole open()-time
    // shuffle on the NEXT QUERY (latency cliff); disk-backed spill keeps
    // evicted shards a local read away. Plain (deserialized) level, NOT
    // _SER: serialized-in-memory blocks re-deserialize the hash maps on
    // EVERY query (measured p50 93 → 257 ms).
    val shards = sorted.rdd
      .mapPartitions(buildShardIndexes, preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // materialize: open pays the exchange once
    (shards, shardIds(shards))
  }

  /** The no-shuffle open (its guard job materializes the shards), with each
    * partition's shard ids. Returns None (after cleaning up) if the
    * shard-whole-files property fails. */
  private def openUnshuffled(spark: SparkSession,
      io: TableIO): Option[(RDD[ShardIndex], Array[Array[Int]])] = {
    import spark.implicits._
    val width = spark.sparkContext.defaultParallelism
    val dir = new org.apache.hadoop.fs.Path(io.tablePath("postings"))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return None
    val totalBytes = fs.getContentSummary(dir).getLength
    // Split sizing must go through a SESSION conf: Spark 4's
    // FilePartition.maxSplitBytes reads spark.sql.files.* from the session
    // only — the equivalent-looking datasource read options are silently
    // ignored (verified in the shipped spark-sql jar), and riding on
    // whatever session value happens to be set (e.g. a bench session's
    // 4 MB) splits postings files, trips the wholeness guard below, and
    // silently demotes EVERY open to the shuffle path. A split must never
    // cut a file (shards would split with it), so the split size is the
    // pack target total/width — any single file is far smaller than that by
    // construction (files ≈ total/invertParts, invertParts ≫ width); the
    // guard below catches pathological layouts. The flip happens on a
    // CLONED session (own SQLConf, shared SparkContext/cache), so
    // concurrent jobs planning reads on the caller's session are never
    // planned with the open's split sizes — no lock, no blast radius.
    val packBytes = math.max(totalBytes / math.max(width, 1) + (1L << 20),
      1L << 22)
    val openSession = spark.newSession()
    openSession.conf.set("spark.sql.files.maxPartitionBytes",
      packBytes.toString)
    openSession.conf.set("spark.sql.files.openCostInBytes",
      (1L << 20).toString)
    val blocks = openSession.read
      .parquet(io.tablePath("postings"))
      .where(col("group") < graft.index.IndexTables.GroupBase)
      .select(BlockCols.head, BlockCols.tail: _*)
      .as[PostingBlock]
    // `.rdd` materializes the physical plan — file partitions (and so the
    // pack layout) are fixed HERE, under the clone's conf; the resulting
    // RDD belongs to the shared SparkContext, so caching and queries on
    // the caller's session are unaffected
    val shards = blocks.rdd
      .mapPartitions(buildShardIndexes, preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // guard: every shard must be whole within one partition (format
    // property; violation ⇒ a doc's postings would split across serving
    // indexes and scores would be partial). Shard-count-sized, tiny.
    val perPart = shardIds(shards)
    val ids = perPart.flatten
    if (ids.length == ids.distinct.length) Some((shards, perPart))
    else {
      // the fallback is correct but silently loses the no-shuffle open —
      // make it visible so a layout/conf regression can't hide behind it
      System.err.println(s"[graft] openUnshuffled guard tripped at " +
        s"${io.indexDir}: ${ids.length} shard indexes, " +
        s"${ids.distinct.length} distinct — falling back to shuffle open")
      shards.unpersist(blocking = false); None
    }
  }

  /** Stored block-max bounds are avgdl-tight unless streamed appends shifted
    * avgdl after encode; a compaction re-encodes everything at the current
    * avgdl, so bounds are tight again when a `compact_e<N>` step covers the
    * largest stream epoch (see IncrementalIndexer). */
  private[graft] def tightBoundsOf(io: TableIO): Boolean = {
    val steps = io.committedSteps()
    val streamEpochs = steps.collect {
      case s if s.startsWith("stream_g") => s.stripPrefix("stream_g").toLong
    }
    if (streamEpochs.isEmpty) true
    else {
      val compactedThrough = steps.collect {
        case s if s.startsWith("compact_e") => s.stripPrefix("compact_e").toLong
      }
      compactedThrough.nonEmpty && compactedThrough.max >= streamEpochs.max
    }
  }

  /** Group a (doc_shard, term, first_doc_id)-sorted partition stream into
    * per-shard term-keyed indexes. Memory: the partition's own blocks (the
    * same rows the old cache held, minus non-query-path columns). */
  private def buildShardIndexes(rows: Iterator[PostingBlock])
      : Iterator[ShardIndex] = new Iterator[ShardIndex] {
    private var pending: ShardIndex = null
    private var curShard = Int.MinValue
    private var curTerm: String = null
    private var curBlocks = mutable.ArrayBuffer.empty[PostingBlock]
    private var curDf = 0L
    // the term's global df: known only if every one of its blocks carries it
    private var curGlobalDf: Option[Long] = None
    private var map = new java.util.HashMap[String, TermPostings]()

    private def closeTerm(): Unit = {
      if (curTerm != null) {
        map.put(curTerm, new TermPostings(curDf, curBlocks.toArray,
          curGlobalDf.getOrElse(-1L)))
        curBlocks = mutable.ArrayBuffer.empty[PostingBlock]
        curDf = 0L
      }
    }
    private def closeShard(): Unit = {
      closeTerm()
      if (!map.isEmpty) {
        pending = new ShardIndex(curShard, map)
        map = new java.util.HashMap[String, TermPostings]()
      }
    }
    private def advance(): Unit = {
      while (pending == null && rows.hasNext) {
        val b = rows.next()
        if (b.doc_shard != curShard) {
          closeShard(); curShard = b.doc_shard; curTerm = null
        }
        if (curTerm == null || curTerm != b.term) { closeTerm(); curTerm = b.term }
        curGlobalDf = if (curBlocks.isEmpty) b.df else curGlobalDf.filter(b.df.contains)
        curBlocks += b
        curDf += b.n
      }
      if (pending == null && (curTerm != null || !map.isEmpty)) {
        closeShard(); curTerm = null
      }
    }
    override def hasNext: Boolean = { if (pending == null) advance(); pending != null }
    override def next(): ShardIndex = {
      if (!hasNext) throw new NoSuchElementException
      val s = pending; pending = null; s
    }
  }

  /** Partition count above which the pairwise combine runs as an extra
    * tree stage (treeAggregate) instead of on the driver. Below it, a
    * single-stage job is strictly better: the per-partition fold ALREADY
    * bounds what leaves the executors at queries × k per partition, and
    * the extra stage costs one more task-scheduling wave per query (~40 ms
    * of p50 at local[32] — measured, which is why this is adaptive and not
    * always-tree). Test seam: specs force the tree path by lowering it. */
  @volatile private[graft] var treeFanInThreshold = 256

  /** Per-query top-k partials: qid → (score_x6, doc_id) hits, best first. */
  private type TopK = Map[Int, Array[(Long, Long)]]

  /** Merge two best-first hit lists into the best k under the
    * (score_x6 desc, doc_id asc) ordering — exactly the final ordering, so
    * the merge is lossless. */
  private def mergeTop(k: Int, a: Array[(Long, Long)],
      b: Array[(Long, Long)]): Array[(Long, Long)] = {
    val out = new Array[(Long, Long)](math.min(k, a.length + b.length))
    var i = 0; var j = 0; var o = 0
    while (o < out.length) {
      val takeA = j >= b.length || (i < a.length &&
        (a(i)._1 > b(j)._1 || (a(i)._1 == b(j)._1 && a(i)._2 < b(j)._2)))
      if (takeA) { out(o) = a(i); i += 1 } else { out(o) = b(j); j += 1 }
      o += 1
    }
    out
  }

  /** Folds one shard's hits for every live query into the partials. Shards
    * sharing a JVM share one θ board per (run, qid). */
  private final class TopKFold(qs: Array[QuerySpec], k: Int, runId: String)
      extends ((TopK, ShardIndex) => TopK) with Serializable {
    def apply(acc: TopK, si: ShardIndex): TopK = qs.foldLeft(acc) { (m, q) =>
      val hits = scoreOn(si, q, k,
        BlockMaxWand.ThetaBoards.boardFor(s"$runId/${q.qid}"))
      if (hits.isEmpty) m
      else {
        val sorted = hits.map { case (d, s) => (math.round(s * 1e6), d) }
          .sortBy { case (x6, d) => (-x6, d) }.take(k)
        m.updated(q.qid, m.get(q.qid).map(mergeTop(k, _, sorted)).getOrElse(sorted))
      }
    }
  }

  /** Combines two partials qid by qid. */
  private final class TopKMerge(k: Int)
      extends ((TopK, TopK) => TopK) with Serializable {
    def apply(m1: TopK, m2: TopK): TopK = m2.foldLeft(m1) { case (m, (q, b)) =>
      m.updated(q, m.get(q).map(mergeTop(k, _, b)).getOrElse(b))
    }
  }

  /** The fan-out task: one partition's shards folded into its partials. */
  private final class TopKTask(fold: TopKFold) extends ShardTask[TopK] {
    def apply(ctx: TaskContext, it: Iterator[ShardIndex]): TopK =
      it.foldLeft(Map.empty: TopK)(fold)
  }

  /** Tree-merged distributed top-k: each PARTITION folds its shards' hits
    * into per-query top-k partials ([[TopKFold]]), and the partials
    * combine pairwise ([[TopKMerge]]) — on the driver, or above
    * [[treeFanInThreshold]] partitions in treeAggregate stages, so the
    * driver receives O(queries × k) tuples at ANY shard count (the ES
    * coordinating-node fan-in model). A flat collect of per-shard winners
    * is k × shards × queries tuples, which at 10^6 shards (10^12 docs /
    * 2^20 shardSize) and a 20-query batch is ~10^8 tuples through one
    * driver; the tree bounds it. */
  private def treeTopK(h: Handle, fold: TopKFold, merge: TopKMerge): TopK = {
    val shards = h.shards
    val parts = shards.getNumPartitions
    if (parts <= treeFanInThreshold)
      runShards(shards, new TopKTask(fold), h.parts)
        .foldLeft(Map.empty: TopK)(merge)
    else shards.treeAggregate(Map.empty: TopK)(fold, merge,
      depth = math.max(2, (math.log(parts.toDouble) / math.log(64.0)).ceil.toInt))
  }

  /** The serving fan-out end to end: every shard runs [[scoreOn]] for
    * every live query, [[treeTopK]] merges, and the driver orders the frame.
    * Shards sharing a JVM share one θ board per (run, qid)
    * (BlockMaxWand.ThetaBoards): head-term pruning tightens as soon as ANY
    * co-resident shard fills its heap, so a shard may return fewer than k
    * hits — only ones the merged top-k could use. A batch with no live
    * query skips the job and returns the empty frame. */
  private def fanOutTopK(h: Handle, k: Int,
      queries: Seq[QuerySpec], withQid: Boolean = true): DataFrame = {
    val qs = queries.filter(_.live).toArray
    topKFrame(h.spark, if (qs.isEmpty) Map.empty else treeTopK(h,
      new TopKFold(qs, k, java.util.UUID.randomUUID().toString),
      new TopKMerge(k)), withQid)
  }

  /** Score one query against one shard's index — the per-query body of
    * every serving path. A key the shard lacks drops its term cursor, its
    * filter or exclusion list, or its clause slot member (a clause whose
    * slot loses every member matches nothing here). */
  private def scoreOn(si: ShardIndex, q: QuerySpec, k: Int,
      board: java.util.concurrent.atomic.AtomicLong): Array[(Long, Double)] = {
    def blocksOf(tp: TermPostings): IndexedSeq[PostingBlock] =
      if (tp == null) IndexedSeq.empty else ArraySeq.unsafeWrapArray(tp.blocks)
    def blocks(key: String): IndexedSeq[PostingBlock] = blocksOf(si.terms.get(key))
    val cursors = q.terms.toSeq.flatMap { c =>
      Option(si.terms.get(c.key)).map(tp => BlockMaxWand.Cursor(blocksOf(tp),
        c.idf(tp), c.weight, c.avgdl, c.tight, c.leg))
    }
    val clauses = q.phrases.toSeq.map { p =>
      val entries = p.keys.map(si.terms.get)
      BlockMaxWand.PhraseCursor(ArraySeq.unsafeWrapArray(entries.map(blocksOf)),
        p.slots, p.law, p.sumIdf(entries), p.avgdl, p.tight, p.leg)
    }
    val filters = q.filterKeys.map(_.toSeq.map(blocks).filter(_.nonEmpty))
    // filter context: a shard holding no filter doc has no qualifying doc
    if (filters.exists(_.isEmpty)) Array.empty
    else BlockMaxWand.scoreCursors(cursors, filters.getOrElse(Seq.empty), k,
      q.msm, board, q.tieBreaker, clauses,
      q.mustNotKeys.toSeq.map(blocks).filter(_.nonEmpty), q.requiredMask)
  }

  private val TopKSchema = StructType(Seq(
    StructField("qid", LongType, nullable = false),
    StructField("rnk", LongType, nullable = false),
    StructField("doc_id", LongType, nullable = false),
    StructField("score_x6", LongType, nullable = false)))

  /** A single bool query's frame ([[multiSearch]]) has no qid column. */
  private val BoolTopKSchema = StructType(TopKSchema.fields.tail)

  /** Build the (qid, rnk, doc_id, score_x6) frame from merged top-k (without
    * qid for a single bool query): a [[DriverRows]] local relation whose
    * rows are already in (qid, rnk) order. Collecting it runs no job (a
    * cluster sort here would add a sampling job, a shuffle-map job and a
    * result job to every search) and no Catalyst planning either:
    * `collect`, `count` and the other driver-returning actions answer from
    * the rows held here, where Catalyst would spend several milliseconds
    * planning and tracking a local scan of them (and two jobs on `count`).
    * A transformation of the frame plans through Catalyst as any DataFrame
    * does. */
  private def topKFrame(spark: SparkSession,
      merged: Map[Int, Array[(Long, Long)]], withQid: Boolean): DataFrame = {
    val rows = mutable.ArrayBuffer.empty[Row]
    merged.toSeq.sortBy(_._1).foreach { case (qid, ranked) =>
      var i = 0
      while (i < ranked.length) {
        val (rnk, doc, x6) = ((i + 1).toLong, ranked(i)._2, ranked(i)._1)
        rows += (if (withQid) Row(qid.toLong, rnk, doc, x6) else Row(rnk, doc, x6))
        i += 1
      }
    }
    DriverRows(spark, if (withQid) TopKSchema else BoolTopKSchema, rows)
  }

  /** One batch ranks each qid once: hits merge by qid ([[treeTopK]]) and θ
    * boards are keyed by it, so two queries sharing a qid would fuse into
    * one ranking and prune each other. */
  private def requireDistinctQids(qids: Seq[Int]): Unit = {
    val seen = mutable.HashSet.empty[Int]
    qids.foreach(q => require(seen.add(q), s"duplicate qid $q in one search batch"))
  }

  /** Search via a resident handle: one fan-out job over the cached shard
    * indexes (plus, with active streamed segments, one df-lookup job on a
    * df-cache miss); the top-k frame is a driver-ordered local relation.
    * `chain` analyzes the query string
    * with the target field's analyzer (reference semantics: ES analyzes
    * query text with the queried field's mapped chain,
    * elastic/settings.go:87-138) — default is the stopword text chain the
    * single-field indexes use. */
  def search(h: Handle, rawQueries: Seq[(Int, String)], k: Int,
             chain: String => Array[String] = Analyzer.analyzeStop): DataFrame =
    fanOutTopK(h, k, searchSpecs(h, rawQueries, chain))

  private def searchSpecs(h: Handle, rawQueries: Seq[(Int, String)],
      chain: String => Array[String]): Seq[QuerySpec] = {
    requireDistinctQids(rawQueries.map(_._1))
    // analyzed terms with query-occurrence weights (Lucene: a repeated query
    // term contributes once per occurrence)
    val analyzed: Seq[(Int, Map[String, Int])] = rawQueries.map { case (qid, q) =>
      qid -> chain(q).groupBy(identity).view.mapValues(_.length).toMap
    }
    val dfs = driverDfs(h, analyzed.flatMap(_._2.keys).distinct.toArray)
    analyzed.map { case (qid, tw) =>
      QuerySpec(qid, tw.toSeq.sortBy(_._1).flatMap { case (t, w) =>
        cursorSpec(h.only, t, dfs, w)
      }.toArray)
    }
  }

  /** The task a [[search]] fan-out runs on `h.shards`: with the view, what
    * its job serializes into the task binary (`ServingJobsSpec` pins the
    * size). */
  private[graft] def searchTask(h: Handle, rawQueries: Seq[(Int, String)],
      k: Int): AnyRef =
    new TopKTask(new TopKFold(searchSpecs(h, rawQueries, Analyzer.analyzeStop)
      .filter(_.live).toArray, k, java.util.UUID.randomUUID().toString))

  /** ES match with `fuzziness` (the Lucene FuzzyQuery rewrite): each
    * analyzed query term expands to the dictionary terms within its edit
    * budget (AUTO = 0/1/2 by term length, or the explicit `fuzziness`,
    * capped at 2), selected deterministically by (distance asc, df desc,
    * term asc) up to `maxExpansions` (ES default 50); each expansion then
    * scores as an ordinary WAND cursor whose idf is pre-multiplied by the
    * fuzzy boost 1 − d/min(|q|,|t|) — the bool-of-expansions rewrite, so
    * the block-max pruning, θ boards and tree merge all apply unchanged.
    *
    * Expansion runs against each shard's [[FuzzyDict]] sidecar — length
    * bands + class-mask popcount prefilters, DP only on survivors — NOT a
    * full-dictionary sweep, so per-query cost tracks the ±e length bands,
    * not the vocabulary (4-6x at 5M docs, identical results; FuzzySidecarSpec
    * pins set identity with the sweep). Lucene intersects an FST
    * with a Levenshtein automaton instead — sublinear in band size, the
    * documented next rung; at 10^12 docs either structure belongs NEXT TO
    * each shard's hash index (the dictionaries stay sharded on executors;
    * nothing vocabulary-sized reaches the driver; collected rows are
    * query-terms × ≤maxExpansions × shard partials). */
  /** Dictionary candidates per (term, edit budget): one distributed job
    * over the resident shard indexes — exact (0-edit) terms use the
    * hash lookup, fuzzy terms probe the shard's [[FuzzyDict]]; per-shard
    * partial dfs add. Selection is the deterministic Lucene order
    * (distance asc, df desc, term asc), capped at `max`. Shared by the
    * fuzzy-match rewrite and the term suggester. */
  private def fuzzyCandidates(h: Handle, uniq: Array[(String, Int)],
      max: Int): Map[String, Array[(String, Long, Int)]] = {
    val rows = runShards(h.shards, new FuzzyTask(uniq), h.parts).flatten
    rows.groupBy(_._1).map { case (q, rs) =>
      val byTerm = rs.groupBy(_._2).map { case (t, xs) =>
        (t, xs.map(_._3).sum, xs.head._4) // dfs add; distance is global
      }.toArray
      q -> byTerm.sortBy { case (t, df, d) => (d, -df, t) }
        .take(max)
    }
  }

  /** Per partition: (query term, dictionary term, shard-local df,
    * distance) for each candidate of each (term, edit budget). */
  private final class FuzzyTask(uniq: Array[(String, Int)])
      extends ShardTask[Array[(String, String, Long, Int)]] {
    def apply(ctx: TaskContext,
        it: Iterator[ShardIndex]): Array[(String, String, Long, Int)] = {
      val out = mutable.ArrayBuffer.empty[(String, String, Long, Int)]
      it.foreach { si =>
        uniq.foreach { case (q, maxE) =>
          if (maxE == 0) {
            val tp = si.terms.get(q)
            if (tp != null) out += ((q, q, tp.df, 0))
          } else {
            si.fuzzyDict.candidates(q, maxE).foreach { case (t, df, d) =>
              out += ((q, t, df, d))
            }
          }
        }
      }
      out.toArray
    }
  }

  private val SuggestSchema = StructType(Seq(
    StructField("input", StringType),
    StructField("rnk", LongType, nullable = false),
    StructField("suggestion", StringType),
    StructField("df", LongType, nullable = false),
    StructField("distance", LongType, nullable = false)))

  /** ES term suggester (`suggest_mode: missing`, the default): for each
    * analyzed input term ABSENT from the dictionary, the closest
    * dictionary terms within its AUTO edit budget, ranked (distance asc,
    * df desc, term asc) — Lucene DirectSpellChecker's candidate order —
    * top `size`. Present terms produce no suggestions (that is what
    * `missing` means). Returns (input, rnk, suggestion, df, distance). */
  def termSuggest(h: Handle, text: String, size: Int,
      chain: String => Array[String] = Analyzer.analyzeStop): DataFrame = {
    // Spark's string order (UTF-8 bytes, not UTF-16 units), so the rows
    // below come out in the order a sort on `input` would give
    val terms = chain(text).distinct
      .sortBy(org.apache.spark.unsafe.types.UTF8String.fromString)
    val present = resolveDfs(h, terms.toArray)
    val missing = terms.filterNot(present.contains)
      .map(t => t -> Fuzzy.autoEdits(t)).filter(_._2 > 0).toArray
    // the common all-terms-present case: no distributed scan at all
    val cands =
      if (missing.isEmpty) Map.empty[String, Array[(String, Long, Int)]]
      else fuzzyCandidates(h, missing, size)
    val rows = missing.flatMap { case (q, _) =>
      cands.getOrElse(q, Array.empty).zipWithIndex.map {
        case ((t, df, d), i) => Row(q, (i + 1).toLong, t, df, d.toLong)
      }
    }
    // already in (input, rnk) order: terms are sorted, ranks ascend
    DriverRows(h.spark, SuggestSchema, rows)
  }

  def fuzzySearch(h: Handle, rawQueries: Seq[(Int, String)], k: Int,
      chain: String => Array[String] = Analyzer.analyzeStop,
      fuzziness: Int = -1, maxExpansions: Int = 50): DataFrame = {
    requireDistinctQids(rawQueries.map(_._1))
    val analyzed: Seq[(Int, Map[String, Int])] = rawQueries.map { case (qid, q) =>
      qid -> chain(q).groupBy(identity).view.mapValues(_.length).toMap
    }
    val uniq: Array[(String, Int)] = analyzed.flatMap(_._2.keys).distinct.sorted
      .map(t => t -> (if (fuzziness >= 0) math.min(fuzziness, 2)
                      else Fuzzy.autoEdits(t))).toArray
    val cands = fuzzyCandidates(h, uniq, maxExpansions)
    // cursor order (query term, expansion term): deterministic FP sums; the
    // candidates job already summed each expansion's global df
    fanOutTopK(h, k, analyzed.map { case (qid, tw) =>
      QuerySpec(qid, tw.toSeq.sortBy(_._1).flatMap { case (q, w) =>
        cands.getOrElse(q, Array.empty).sortBy(_._1).flatMap { case (t, df, dd) =>
          cursorSpec(h.only, t, Some(Map(t -> df)), w, Fuzzy.boost(q, t, dd))
        }
      }.toArray)
    })
  }

  /** Cold-start variant: open a transient handle, search, release. */
  def search(spark: SparkSession, indexDir: String,
             rawQueries: Seq[(Int, String)], k: Int): DataFrame = {
    val h = open(spark, indexDir)
    try search(h, rawQueries, k)
    finally h.close()
  }

  /** Bounded public df lookup (the [[resolveDfs]] cache path) for query
    * planners that rank candidate terms by idf before building the real
    * query (more_like_this term selection). Input size is the caller's
    * contract — here always one document's distinct terms. */
  def termDfs(h: Handle, terms: Array[String]): Map[String, Long] =
    resolveDfs(h, terms)

  /** Query-sized df lookup for cache misses only: |keys| hash lookups per
    * shard, Σ over shards (skipped entirely once the handle has served the
    * keys before). Returns only keys with df > 0. */
  private def resolveDfs(h: Handle, keys: Array[String]): Map[String, Long] = {
    val missing: Array[String] = keys.filterNot(h.dfCache.containsKey)
    if (missing.nonEmpty) {
      val parts = runShards(h.shards, new DfTask(missing), h.parts)
      missing.indices.foreach(i =>
        h.dfCache.put(missing(i), Long.box(parts.iterator.map(_(i)).sum)))
    }
    keys.iterator
      .map(t => t -> h.dfCache.get(t).longValue())
      .filter(_._2 > 0L).toMap
  }

  /** Per partition: each term's df summed over the partition's shards,
    * aligned with `terms` (0 = absent here). */
  private final class DfTask(terms: Array[String]) extends ShardTask[Array[Long]] {
    def apply(ctx: TaskContext, it: Iterator[ShardIndex]): Array[Long] = {
      val dfs = new Array[Long](terms.length)
      it.foreach { si =>
        var i = 0
        while (i < terms.length) {
          val tp = si.terms.get(terms(i))
          if (tp != null) dfs(i) += tp.df
          i += 1
        }
      }
      dfs
    }
  }

  /** Per-doc BM25 contributions of a weighted term bag against this
    * handle's index: (doc_id, contrib) with contrib = weight · idf ·
    * tfNorm under THIS index's stats — the building block of multi-field
    * (ES bool/should) scoring, where per-field score lists must be summed
    * across sub-indexes rather than top-k'd per field (a doc can win the
    * sum without being in any single field's top-k). Distributed end to
    * end: one narrow decode job per handle, rows stay on executors for the
    * downstream sum. The doubles are the WAND kernel's own (same
    * [[Bm25.idf]]/[[Bm25.tfNorm]] calls), so micro-rounded sums agree with
    * the oracle's exactly like the single-field paths. */
  def contribs(h: Handle, termWeights: Map[String, Int],
               boost: Double = 1.0): DataFrame = {
    import h.spark.implicits._
    val dfByTerm = resolveDfs(h, termWeights.keys.toArray)
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

  /** ES `_explain` backbone: the per-term BM25 decomposition of ONE doc
    * under this handle's stats — (term, weight, tf, df, dl, idf, tf_norm,
    * contrib) for each query term present in the doc. The doubles are the
    * kernel's own [[Bm25]] calls in the kernel's FP order
    * ((w·idf)·tfNorm), so Σ contrib micro-rounds to exactly the score
    * every query path serves. Distributed lookup (the doc lives in one
    * shard; block min/max prune the decode), driver receives ≤ |terms|
    * rows. */
  def explainDoc(h: Handle, termWeights: Map[String, Int],
                 docId: Long): DataFrame = {
    import h.spark.implicits._
    val dfByTerm = resolveDfs(h, termWeights.keys.toArray)
    val n = h.stats.n_docs
    val avgdl = h.stats.avgdl
    val terms = termWeights.toArray.collect {
      case (t, w) if dfByTerm.contains(t) => (t, w, dfByTerm(t))
    }
    h.shards.flatMap { si =>
      terms.iterator.flatMap { case (t, w, df) =>
        val tp = si.terms.get(t)
        if (tp == null) Iterator.empty
        else tp.blocks.iterator
          .filter(b => b.first_doc_id <= docId && docId <= b.last_doc_id)
          .flatMap { b =>
            val ids = graft.index.Codec.decodeDocIds(b.doc_ids, b.n)
            val tfs = graft.index.Codec.decodeTfs(b.tfs, b.n)
            val dls = graft.index.Codec.decodeTfs(b.dls, b.n)
            (0 until b.n).iterator.filter(i => ids(i) == docId).map { i =>
              val idf = Bm25.idf(n, df)
              val tfn = Bm25.tfNorm(tfs(i).toDouble, dls(i).toDouble, avgdl)
              (t, w, tfs(i).toLong, df, dls(i).toLong, idf, tfn,
                (w * idf) * tfn)
            }
          }
      }
    }.toDF("term", "weight", "tf", "df", "dl", "idf", "tf_norm", "contrib")
  }

  /** Full per-doc phrase score list against this handle's index — the
    * naive twin of a phrase CLAUSE: the clause cursor runs unbounded
    * (k = Int.MaxValue, no θ board), so every conjunction doc is position-
    * confirmed and scored (the production path is the same clause inside
    * the combined-bound WAND). Emits (doc_id, contrib) for pf > 0 docs
    * only, so a downstream leg count sees phrase clauses exactly like
    * match legs. Distributed end to end. */
  def phraseContribs(h: Handle, occs: Array[(String, Int)],
                     boost: Double = 1.0): DataFrame = {
    import h.spark.implicits._
    val dfByTerm = resolveDfs(h, occs.map(_._1).distinct)
    val q = clauseQuery(h, 0, occs.toSeq.map(o => Seq(o._1)), Some(dfByTerm),
      boost)(_ => aligned(occs.toSeq))
    h.shards.flatMap(scoreOn(_, q, Int.MaxValue, null))
      .toDF("doc_id", "contrib")
  }

  /** One standalone positional query on a single-field handle. */
  private def clauseQuery(h: Handle, qid: Int, slots: Seq[Seq[String]],
      dfs: Option[Map[String, Long]], boost: Double = 1.0)(
      law: Array[Array[Int]] => Phrase.Law): QuerySpec =
    QuerySpec(qid, Array.empty,
      phraseSpec(slots, dfs, h.only, 0, boost)(law).toArray)

  /** ES match_phrase against a positioned index: analyze each phrase with
    * the field's chain keeping tokenizer positions, then score it as one
    * exact-phrase clause ([[Phrase.Aligned]]) of the block-max WAND walk —
    * one narrow job over the resident shard indexes, candidates bounded by
    * the rarest term's postings and pruned against the per-query θ board.
    * Returns (qid, rnk, doc_id, score_x6) under the deterministic ordering;
    * phrases with any corpus-absent term match nothing (conjunction). */
  def phraseSearch(h: Handle, rawQueries: Seq[(Int, String)], k: Int,
      chain: String => Array[(String, Int)]): DataFrame = {
    requireDistinctQids(rawQueries.map(_._1))
    val analyzed = rawQueries.map { case (qid, q) => qid -> chain(q).toSeq }
    val dfs = driverDfs(h, analyzed.flatMap(_._2.map(_._1)).distinct.toArray)
    fanOutTopK(h, k, analyzed.map { case (qid, occs) =>
      clauseQuery(h, qid, occs.map(o => Seq(o._1)), dfs)(_ => aligned(occs))
    })
  }

  /** ES span_near (in_order) — ordered proximity: each query is (qid, raw
    * text, slop); the analyzed tokens in order are the span_term clauses,
    * scored as one clause of the block-max WAND walk under
    * [[Phrase.OrderedSpan]]'s greedy-minimal ordered law (`inOrder = false`
    * swaps in the anchored-window [[Phrase.UnorderedSpan]] law). Same
    * distributed shape as [[phraseSearch]]. idf sums over clause terms,
    * duplicates included (SpanWeight collects from every clause). Returns
    * (qid, rnk, doc_id, score_x6). */
  def spanNearSearch(h: Handle, rawQueries: Seq[(Int, String, Int)], k: Int,
      chain: String => Array[String], inOrder: Boolean = true): DataFrame = {
    requireDistinctQids(rawQueries.map(_._1))
    val analyzed = rawQueries.map { case (qid, q, slop) =>
      (qid, chain(q).toSeq, slop)
    }
    val dfs = driverDfs(h, analyzed.flatMap(_._2).distinct.toArray)
    fanOutTopK(h, k, analyzed.map { case (qid, ts, slop) =>
      clauseQuery(h, qid, ts.map(Seq(_)), dfs) { slots =>
        if (inOrder) Phrase.OrderedSpan(slop)
        else Phrase.UnorderedSpan(slop, slots.map(_(0)))
      }
    })
  }

  /** ES match_phrase_prefix (Lucene MultiPhrasePrefixQuery rewritten to a
    * MultiPhraseQuery): the phrase's LAST token position becomes a slot of
    * up to max_expansions dictionary terms sharing its prefix (supplied by
    * `expand` in term order — the Lucene rewrite collection order), every
    * other position stays an exact occurrence. Scoring follows
    * MultiPhraseWeight: idf sums over the FULL term set (fixed occurrences
    * + every expansion, df from the dictionary), tfNorm over the union
    * phraseFreq. Queries whose fixed terms are corpus-absent, or whose
    * prefix expands to nothing, match nothing (conjunction). Returns
    * (qid, rnk, doc_id, score_x6). */
  def phrasePrefixSearch(h: Handle, rawQueries: Seq[(Int, String)], k: Int,
      chain: String => Array[(String, Int)],
      expand: String => Seq[(String, Long)]): DataFrame = {
    requireDistinctQids(rawQueries.map(_._1))
    val analyzed = rawQueries.map { case (qid, q) => qid -> chain(q).toSeq }
    // driver-side dfs on any handle: the union slot's idf sums expansions
    // a shard may lack (the expansions carry their dfs from `expand`)
    val dfByTerm = resolveDfs(h,
      analyzed.flatMap(_._2.dropRight(1).map(_._1)).distinct.toArray)
    fanOutTopK(h, k, analyzed.map { case (qid, occs) =>
      val fixed = occs.dropRight(1).map(_._1)
      // expand only a prefix whose fixed terms can all match
      val (slots, dfs) =
        if (occs.isEmpty || !fixed.forall(dfByTerm.contains))
          (Seq.empty, dfByTerm)
        else {
          val ex = expand(occs.last._1)
          (fixed.map(Seq(_)) :+ ex.map(_._1), dfByTerm ++ ex)
        }
      clauseQuery(h, qid, slots, Some(dfs))(_ => aligned(occs))
    })
  }

  /** ES term-query analogue (filter context — set-valued, no scoring): all
    * docs whose indexed field contains one of the PRE-ANALYZED terms. One
    * narrow job over the resident shard indexes; the result stays a
    * distributed (term, doc_id) DataFrame because a term's posting list is
    * corpus-sized at scale (a keyword-field lookup like DOI yields a
    * handful of rows, a year-field lookup yields millions). */
  def termDocs(h: Handle, terms: Seq[String]): DataFrame = {
    import h.spark.implicits._
    val ts = terms.toArray
    h.shards.flatMap { si =>
      ts.iterator.flatMap { t =>
        val tp = si.terms.get(t)
        if (tp == null) Iterator.empty
        else tp.blocks.iterator.flatMap(b =>
          graft.index.Codec.decodeDocIds(b.doc_ids, b.n).iterator
            .map(d => (t, d)))
      }
    }.toDF("term", "doc_id")
  }
}
