package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Near-duplicate detection operators over the documents corpus: word-shingle
  * exact Jaccard, MinHash+LSH (shingle → minhash signature → banded
  * bucket-join → exact verify), and SimHash fingerprints.
  *
  * Cross-engine determinism AND 10^12-doc shape: every hash is plain integer
  * arithmetic over a data-derived id — the polynomial byte hash
  * [[graft.text.HashKernels.polyHash]], a pure per-row function both engines
  * compute identically from the shingle/term bytes. No dictionary exists
  * anywhere: no vocabulary collect, no global-sort dense_rank, no dictionary
  * join (the round-1 scale blockers). Signatures are row-local codegen
  * kernels; the only shuffles are the banded LSH bucket join and the
  * candidate verify join — the parts that are genuinely relational and
  * candidate-sized (≪ n²).
  */
object Dedup {

  val P: Long = 2147483647L // 2^31 - 1

  /** 16 deterministic affine hash functions (hid, a, b). */
  val MinHashFns: Seq[(Int, Long, Long)] = (0 until 16).map { i =>
    val a = (2654435761L * (i + 1)) % P | 1L
    val b = (40503L * (i + 7) * 2654435761L) % P
    (i, a, b)
  }
  val BandRows = 4 // 16 hashes → 4 bands of 4

  /** 32 deterministic bit-hash functions for SimHash (j, a, b). 32 bits
    * (widened from 16 in round 2): on a Zipf-vocabulary corpus 16-bit
    * fingerprints collide so heavily that hamming distance stops
    * discriminating (3,508 identical-sig pairs among 500 docs measured);
    * production simhash is 64-bit — 32 keeps every constant exactly
    * replayable in the DuckDB oracle's BIGINT arithmetic with headroom. */
  val SimHashFns: Seq[(Int, Long, Long)] = (0 until 32).map { i =>
    val a = (0x9e3779b97f4aL * (i + 3)) % P | 1L
    val b = (0x85ebca6bL * (i + 11)) % P
    (i, a, b)
  }

  private def toks: Column = split(col("text"), " ")

  /** Distinct word 3-shingles per doc (raw whitespace tokens — dedup works
    * on surface text, not the stopworded analysis chain). Reference HOF
    * formulation kept in [[shinglesRef]]; production path is the native
    * codegen [[ShinglesExpr]] (identical output, asserted in spec). */
  def shingles(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(ShinglesExpr.shinglesCol(col("text"))).as("shingle"))

  /** Interpreted Column formulation — the spec oracle for ShinglesExpr. */
  def shinglesRef(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(array_distinct(when(size(toks) >= 3,
        transform(sequence(lit(1), size(toks) - 2), i =>
          concat_ws(" ", element_at(toks, i), element_at(toks, i + 1),
            element_at(toks, i + 2))))
        .otherwise(array().cast("array<string>")))).as("shingle"))

  /** Hot-shingle df cap for [[ngramJaccardPairs]]: shingles present in more
    * than this many docs are dropped from the Jaccard universe BEFORE the
    * inverted self-join. Without it a single boilerplate shingle ("all
    * rights reserved") with df = d explodes into d²/2 candidate rows — the
    * quadratic blow-up that kills the operator at web scale. With it every
    * bucket is ≤ cap²/2 pairs and the number of capped-df shingles is
    * ≤ shingle_rows / cap, so total candidates are linear in corpus size.
    * SEMANTIC CHANGE (documented, shared with the oracle): Jaccard is
    * computed over the capped shingle universe — both intersections and
    * set sizes exclude near-stopword shingles, the standard trade in
    * production dedup (they carry no duplicate signal). */
  val MaxShingleDf = 1024L

  /** The capped shingle universe: (doc_id, shingle) minus shingles with
    * df > maxDf. df via groupBy (map-side partial aggregation — skew-safe
    * where a window over the shingle key is not), hot set removed by
    * anti-join (hot set is ≤ rows/maxDf keys; AQE picks the strategy). */
  def cappedShingles(docs: DataFrame, maxDf: Long): DataFrame = {
    val sh = shingles(docs)
    val hot = sh.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df")).filter(col("df") > maxDf)
      .select(col("shingle"))
    sh.join(hot, Seq("shingle"), "left_anti")
  }

  /** Exact n-gram Jaccard pairs ≥ thr over the capped shingle universe
    * ([[MaxShingleDf]]): inverted-index candidate generation on shingle
    * (only co-occurring pairs materialize — never the n² cross product, and
    * no bucket exceeds cap²/2 pairs), intersection counts, |A∪B| from
    * per-doc CAPPED set sizes (a shingle dropped from the universe is in
    * neither the intersection nor the union — self-consistent Jaccard).
    *
    * Execution shape (optimization guide §2.3/§2.4, re-planned in round 6):
    * the capped universe ([[cappedShingles]] — count-based hot-set
    * aggregate with map-side partials, then a broadcast anti-join; NO
    * per-shingle doc lists ever materialize, so aggregation buffers stay
    * bounded however hot a boilerplate shingle is) is re-partitioned by
    * shingle through ONE explicit exchange that every consumer (both
    * self-join sides AND the set-size aggregation) shares via exchange
    * reuse — the former plan re-planned the whole capped-universe subtree
    * per consumer, evaluating the shingle kernel 8× and shuffling the
    * shingle relation 4× (plan audit, plans/r06). The self-join needs no
    * further exchange (both sides already hash-partitioned by shingle);
    * downstream relations (pair counts, capped set sizes) are
    * candidate/doc-sized. */
  def ngramJaccardPairs(docs: DataFrame, thr: Double,
                        maxShingleDf: Long = MaxShingleDf): DataFrame = {
    require(maxShingleDf > 0, "hot-shingle cap must be positive")
    // the ONE shared exchange: identical subtree for all three consumers
    // ⇒ ReusedExchange; its map side (the only evaluation of the shingle
    // kernel + hot-set anti-join) runs once
    val sh2 = cappedShingles(docs, maxShingleDf).repartition(col("shingle"))
    // capped per-doc set sizes (≡ the per-doc count over the capped universe)
    val sizes = sh2.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = sh2.as("a").join(sh2.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("c"))
    val jac = inter
      .join(sizes.as("sa"), col("a_id") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("b_id") === col("sb.doc_id"))
      .select(col("a_id"), col("b_id"),
        (col("c").cast("double") / (col("sa.n") + col("sb.n") - col("c")))
          .as("jac"))
    jac.filter(col("jac") >= thr)
      .select(col("a_id"), col("b_id"),
        round(col("jac") * 1e6).cast("long").as("jac_x6"))
      .orderBy("a_id", "b_id")
  }

  /** MinHash + banded LSH near-dup pairs, exact-verified at thr:
    * signature → band buckets → candidate pairs (bucket join) → exact
    * shingle-Jaccard filter. Output identical to the oracle because the
    * hash arithmetic and band signatures are identical.
    *
    * All 16 minhashes come from the row-local
    * [[graft.text.MinHashSigExpr]] kernel (one codegen pass per doc — no
    * shingle explode, no groupBy: duplicates cannot change a min, so the
    * signature needs no distinct pass). The first shuffle in the whole
    * pipeline is the band bucket join over (doc, band, sig) rows. Band
    * signatures are plain column concatenation (same equality semantics as
    * the sorted collect_list formulation). */
  def minHashLshPairs(docs: DataFrame, thr: Double): DataFrame = {
    val sigs = docs
      .select(col("doc_id"),
        graft.text.HashExpressions.minHashSig(col("text")).as("mh"))
      .filter(size(col("mh")) > 0)
    val bandStructs = (0 until MinHashFns.length / BandRows).map { band =>
      struct(lit(band).as("band"),
        concat_ws(",", (0 until BandRows).map(r =>
          element_at(col("mh"), band * BandRows + r + 1).cast("string")): _*)
          .as("sig"))
    }
    val bands = sigs
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
      // co-partition by the join key (round 6, the shared-exchange shape):
      // ONE exchange both self-join sides reuse at runtime — the signature
      // kernel evaluates once, the bucket join runs key-parallel with no
      // broadcast build, and at corpus scale this is the exchange the join
      // would have required anyway
      .repartition(col("band"), col("sig"))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    // exact verify on candidates only — round 6 (guide §2.3/§2.4): attach
    // each doc's DISTINCT shingle ARRAY (one row-local kernel pass per join
    // side) to the candidate pairs and compute |A∩B| / set sizes
    // ROW-LOCALLY with array_intersect. The former shape evaluated the
    // kernel AND exploded the full (doc_id, shingle) relation into shuffled
    // verify joins 4× over; here the candidate relation is the build side
    // of both joins (evaluated ONCE — a cand-derived semi-join filter on
    // the doc side would instead re-plan the banded join per consumer,
    // measured 3× the cost), the shingle arrays stream, and nothing
    // corpus-sized shuffles.
    val shArr = docs.select(col("doc_id"),
      ShinglesExpr.shinglesCol(col("text")).as("sh"))
    cand
      .join(shArr.as("sa"), col("a_id") === col("sa.doc_id"))
      .join(shArr.as("sb"), col("b_id") === col("sb.doc_id"))
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("sa.sh"), col("sb.sh"))).cast("long").as("c"),
        size(col("sa.sh")).cast("long").as("na"),
        size(col("sb.sh")).cast("long").as("nb"))
      // c ≥ 1 reproduces the former inner-join-on-shared-shingle semantics
      // exactly at EVERY threshold (a zero-intersection banded candidate
      // must not surface even at thr ≤ 0)
      .filter(col("c") >= 1)
      .select(col("a_id"), col("b_id"),
        (col("c").cast("double") / (col("na") + col("nb") - col("c"))).as("jac"))
      .filter(col("jac") >= thr)
      .select(col("a_id"), col("b_id"),
        round(col("jac") * 1e6).cast("long").as("jac_x6"))
      .orderBy("a_id", "b_id")
  }

  /** SimHash banding: 4 bands × 8 bits over the 32-bit fingerprint. */
  val SimBands = 4
  val SimBandBits = 8
  /** Max hamming distance for near-dup pairs. d ≤ SimBands−1 differing bits
    * can touch at most d bands, so at least one band matches — the banded
    * candidate join is EXACT (full recall) for this threshold, not
    * approximate. */
  val SimHamMax = 3

  /** SimHash near-dup pairs at hamming ≤ [[SimHamMax]]: band the 32-bit
    * fingerprints (row-local kernel), join candidates on (band, value) —
    * never the n² cross product — then exact popcount filter. Scale note:
    * the same code shape extends to 64-bit/4×16-bit bands; 32 bits here
    * keeps the fingerprint oracle-identical to [[simHash]]'s SQL replay. */
  def simHashPairs(docs: DataFrame): DataFrame = {
    val sigs = docs.select(col("doc_id"),
      graft.text.HashExpressions.simHash(col("text")).as("sig"))
    val bandStructs = (0 until SimBands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("sig"), b * SimBandBits)
          .bitwiseAND(lit((1L << SimBandBits) - 1)).as("bv"))
    }
    val bands = sigs
      .select(col("doc_id"), col("sig"),
        explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("sig"),
        col("bs.band").as("band"), col("bs.bv").as("bv"))
      // co-partition by the join key (round 6, the shared-exchange shape):
      // ONE exchange both self-join sides reuse at runtime — the simhash
      // kernel evaluates once, the banded join runs key-parallel with no
      // broadcast build, and at corpus scale this is the exchange the join
      // would have required anyway
      .repartition(col("band"), col("bv"))
    // hamming filter BEFORE the distinct (guide §2.3 — shuffle fewer
    // bytes): sig rides the banded join row, so the popcount is row-local
    // on the join output and the distinct then deduplicates only the
    // ACTUAL near-dup pairs (band multiplicity ≤ SimBands) instead of
    // every banded candidate. hamming is a function of (a_id, b_id) — one
    // sig per doc — so filter∘distinct ≡ distinct∘filter, row-identical.
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
        expr("CAST(bit_count(x.sig ^ y.sig) AS BIGINT)").as("hamming"))
      .filter(col("hamming") <= SimHamMax)
      .distinct()
      .orderBy("a_id", "b_id")
  }

  /** Duplicate-CLUSTER extraction on top of the pair generators: connected
    * components of the undirected near-dup graph, labeled by the minimum
    * member doc_id — the operation a dedup pipeline actually keys its
    * keep-one-representative step on (cluster_id == the representative).
    * See [[connectedComponents]] for the adaptive execution design. */

  /** PAIR count at or below which components are solved by union-find on
    * the driver (compared against the symmetrized edge count / 2):
    * near-dup pair sets are SPARSE relative to the corpus — that is the
    * point of near-dup detection — so even a 10^12-doc run usually yields
    * a driver-sized pair list, and the distributed loop's per-round
    * scheduling overhead would swamp it. Test seam (spec forces the
    * distributed path by lowering it). */
  @volatile private[graft] var ccDriverMaxEdges = 4000000L

  /** Connected components of the undirected near-dup graph (see the
    * class-level note above): returns (doc_id, cluster_id = min doc_id in
    * the component) for every doc incident to an edge, ordered by doc_id.
    * Adaptive: union-find on the driver at or below [[ccDriverMaxEdges]]
    * pairs; above it, a distributed min-label relax + POINTER-JUMP loop
    * (hash-to-min family, Rastogi et al. 2013 — O(log diameter) rounds,
    * which matters because banded-LSH pairs CHAIN gradually-mutating
    * copies into long paths, not cliques). The distributed loop runs at
    * the RDD level with one fixed HashPartitioner: per-round state is
    * explicitly persisted/freed (Dataset-level caching cannot be — and a
    * DataFrame formulation additionally re-ANALYZES a plan that grows
    * exponentially with rounds), labels only ever decrease, and
    * convergence is a monotone exact label-sum comparison. */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // persist the PAIR list, not the symmetrized union: the union's two
    // branches would each recompute the (expensive) pair generator before
    // the cache materializes — the whole banded join ran twice per call
    // (guide §5; measured in the round-6 plan audit). The mirrored edge
    // set is derived from the cached pairs where needed.
    val p = pairs.select(col("a_id"), col("b_id")).persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ONE bounded job decides the branch AND feeds the driver path: collect
    // at most max+1 pairs (CollectLimit — incremental partition scans, so
    // driver memory stays bounded by the threshold even on a huge pair
    // graph); a full result means the collected array IS the whole edge
    // list and the former separate count() job is unnecessary.
    val maxE = ccDriverMaxEdges
    val lim = math.min(maxE + 1L, Int.MaxValue.toLong).toInt
    val head = p.limit(lim).collect()

    // head.length < lim ⟺ the limit was NOT saturated ⟺ head IS the whole
    // pair list (and ≤ maxE of them). Comparing against maxE directly would
    // mis-branch onto a TRUNCATED list when maxE ≥ Int.MaxValue.
    if (head.length < lim) {
      // driver union-find with path compression; unions always link the
      // larger root to the smaller, so every root IS the component's min
      // member and cluster_id = find(id). Node ids fold out of the one
      // collected pair array — no second job, no mirrored-edge pass.
      val parent = new java.util.HashMap[Long, Long]()
      def find(x0: Long): Long = {
        var x = x0
        var p = parent.getOrDefault(x, x)
        while (p != x) { x = p; p = parent.getOrDefault(x, x) }
        var y = x0 // path compression
        while (y != x) { val n = parent.get(y); parent.put(y, x); y = n }
        x
      }
      val ids = new java.util.TreeSet[java.lang.Long]()
      head.foreach { r =>
        val (aId, bId) = (r.getLong(0), r.getLong(1))
        ids.add(aId); ids.add(bId)
        val (a, b) = (find(aId), find(bId))
        if (a != b) parent.put(math.max(a, b), math.min(a, b))
      }
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](ids.size)
      ids.forEach(id => out += ((id.longValue(), find(id))))
      p.unpersist()
      return out.toSeq.toDF("doc_id", "cluster_id").orderBy("doc_id")
    }
    // the saturated limit cached only the partitions it scanned: fill the
    // cache now, or each union branch below would recompute the rest of
    // the pair generator on first touch
    p.count()
    val sym = p.select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionByName(p.select(col("b_id").as("src"), col("a_id").as("dst")))

    // ---- distributed relax + pointer-jump loop (RDD level) --------------
    val sc = spark.sparkContext
    val part = new org.apache.spark.HashPartitioner(
      math.max(sc.defaultParallelism, 1))
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // (dst, src): keyed by dst so one join brings each node's label to
    // every neighbor
    val edgesByDst = sym.select(col("dst"), col("src")).as[(Long, Long)]
      .rdd.partitionBy(part).persist(lvl)
    var labels = sym.select(col("src")).distinct().as[Long]
      .rdd.map(id => (id, id)).partitionBy(part).persist(lvl)
    labels.count()
    var prevSum: BigInt = null
    var converged = false
    while (!converged) {
      // (a) relax: lbl(id) <- min(lbl(id), min over neighbors' lbl)
      val nbrMin = edgesByDst.join(labels)
        .map { case (_, (src, dlbl)) => (src, dlbl) }
        .reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
      val relaxed = labels.leftOuterJoin(nbrMin, part)
        .mapValues { case (l, o) => math.min(l, o.getOrElse(l)) }
        .persist(lvl)
      // (b) pointer jump: lbl(id) <- lbl(lbl(id)) — labels are node ids,
      // so the label's own row carries a (<=) label one hop closer to the
      // root; repeated jumping doubles the propagation distance per round
      val next = relaxed.map { case (id, l) => (l, id) }
        .leftOuterJoin(relaxed, part)
        .map { case (l, (id, l2)) => (id, math.min(l, l2.getOrElse(l))) }
        .partitionBy(part)
        .persist(lvl)
      // one action: materializes next and the exact monotone label sum
      val s = next.aggregate(BigInt(0))((a, kv) => a + kv._2, _ + _)
      converged = prevSum != null && prevSum == s
      if (sys.env.contains("GRAFT_CC_LOG"))
        System.err.println(s"[cc-round] sum=$s converged=$converged")
      prevSum = s
      relaxed.unpersist(blocking = false)
      labels.unpersist(blocking = false)
      labels = next
    }
    edgesByDst.unpersist(blocking = false)
    p.unpersist()
    labels.toDF("doc_id", "cluster_id").orderBy("doc_id")
  }

  /** 32-bit SimHash fingerprint per doc over unigram term frequencies:
    * bit_j = [ Σ_t tf(t) · (2·((a_j·tid + b_j) mod p mod 2) − 1) > 0 ] with
    * tid = polyHash(term). Each token occurrence contributes ±1 per hash, so
    * the tf-weighted sum collapses to a row-local pass — one codegen kernel
    * per doc ([[graft.text.SimHashExpr]]), zero shuffles. */
  def simHash(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.text.HashExpressions.simHash(col("text")).as("simhash"))
      .orderBy("doc_id")
}
