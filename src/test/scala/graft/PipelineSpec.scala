package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.harness.PipelineQueries
import graft.sim.Ann
import graft.dedup.Dedup

/** Training-data-pipeline operator tests at sf0.001: LSH recall vs the exact
  * baseline, minhash-vs-exact agreement, simhash locality, text-op sanity. */
class PipelineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"
  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")
  private def docs = spark.read.parquet(s"$sf/documents.parquet")

  test("LSH ANN hits are a subset of the corpus and recall@10 >= 0.3 vs brute force") {
    val brute = Ann.bruteTopK(emb, 0L, 10).collect().map(_.getLong(0)).toSet
    val lsh = Ann.lshTopK(emb, 0L, 10).collect().map(_.getLong(0)).toSet
    assert(lsh.nonEmpty)
    val recall = (brute intersect lsh).size.toDouble / brute.size
    // 8 hyperplanes over 500 vectors: bucket holds ~1/256 of corpus plus the
    // query's near neighbours; recall is approximate by design
    assert(recall >= 0.3, s"recall=$recall brute=$brute lsh=$lsh")
  }

  test("IVF ANN: Lloyd-trained cells; probed top-k has recall vs brute") {
    val brute = Ann.bruteTopK(emb, 0L, 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def recallAt(rounds: Int): (Double, Map[Long, Long]) = {
      val ivf = Ann.ivfTopK(emb, 0L, 10, lloydRounds = rounds).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      ((brute.keySet intersect ivf.keySet).size.toDouble / brute.size, ivf)
    }
    val (rT, ivf) = recallAt(Ann.IvfLloydRounds)
    assert(ivf.nonEmpty)
    // probing 2 of 8 cells: the query's own cell holds its near neighbours
    assert(rT >= 0.3, s"recall=$rT brute=${brute.keySet} ivf=${ivf.keySet}")
    // shared hits carry identical exact cosines
    (brute.keySet intersect ivf.keySet).foreach(id =>
      assert(brute(id) === ivf(id)))
    // Lloyd training improves the quantization objective — the mean
    // best-cell cosine over the whole corpus (Lloyd's guarantee; measured
    // here 0.187 → 0.246 untrained → 2 rounds). The fixture embeddings
    // are near-uniform (cells 53..71 of 500 pre-training) so top-k recall
    // can't showcase training at this scale — the sweep over 20 queries
    // shows mean recall flat (0.545 → 0.540) with WORST-case recall up
    // (0.0 → 0.1); on clustered real embeddings the objective gain is
    // what buys recall.
    def objective(rounds: Int): Double = emb
      .select(col("vec_id"), col("embedding"),
        Ann.norm(col("embedding")).as("nrm"))
      .crossJoin(broadcast(Ann.ivfCentroids(emb, rounds)))
      .select(col("vec_id"),
        round(Ann.dot(col("embedding"), col("c_emb"))
          / (col("nrm") * col("c_nrm")) * 1e6).cast("long").as("a_cos"))
      .groupBy("vec_id").agg(max("a_cos").as("best"))
      .agg(avg("best")).head().getDouble(0)
    val (o0, oT) = (objective(0), objective(Ann.IvfLloydRounds))
    assert(oT > o0 * 1.1,
      s"Lloyd training did not improve the quantizer: $o0 -> $oT")
    // trained centroids: still exactly C cells
    assert(Ann.ivfCentroids(emb).collect().length === Ann.IvfCells)
  }

  test("persisted IVF index: probe == inline query, cells partition-pruned") {
    val dir = s"${sys.props("user.dir")}/target/test-ivf-idx"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    Ann.ensureIvf(spark, emb, dir)
    val probe = Ann.ivfProbe(spark, dir, 0L, 10)
    // identical results to the inline (train-in-query) formulation — the
    // persisted lifecycle changes WHERE the work runs, never the answer
    val inline = Ann.ivfTopK(emb, 0L, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(probe.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      === inline)
    // the probe reads only the nprobe cells: partition pruning reaches the
    // cells scan (cid is a directory partition column)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cid"),
      s"no partition pruning in:\n$plan")
    // idempotent ensure: second call must not rebuild (marker present)
    val marker = java.nio.file.Paths.get(dir, Ann.IvfMarker)
    val generation = java.nio.file.Files.readString(marker)
    assert(generation.nonEmpty)
    Ann.ensureIvf(spark, emb, dir)
    assert(java.nio.file.Files.readString(marker) === generation)
  }

  test("an IVF rebuild within one marker mtime tick serves the new centroids") {
    val dir = s"${sys.props("user.dir")}/target/test-ivf-regen"
    def probe(): Seq[(Long, Long)] = Ann.ivfProbe(spark, dir, 0L, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    def inline(rounds: Int): Seq[(Long, Long)] =
      Ann.ivfTopK(emb, 0L, 10, lloydRounds = rounds).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    def stored(): Seq[(Long, Seq[Float])] = spark.read.parquet(s"$dir/centroids")
      .collect().map(r => (r.getAs[Long]("cid"),
        r.getAs[scala.collection.Seq[Float]]("c_emb").toSeq)).toSeq.sortBy(_._1)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    Ann.ensureIvf(spark, emb, dir)
    assert(probe() === inline(Ann.IvfLloydRounds)) // caches the centroids
    val trained = stored()
    val marker = new java.io.File(s"$dir/${Ann.IvfMarker}")
    val stamp = marker.lastModified()
    // rebuild with untrained centroids, then put the old mtime back: a
    // rebuild inside the filesystem's timestamp granularity
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    Ann.ensureIvf(spark, emb, dir, lloydRounds = 0)
    assert(marker.setLastModified(stamp) && marker.lastModified() === stamp)
    val untrained = stored()
    assert(untrained !== trained)
    assert(Ann.centroidsFor(spark, dir).map(c => (c._1, c._2.toSeq)).toSeq
      .sortBy(_._1) === untrained)
    assert(probe() === inline(0))
  }

  test("LSH hit scores match brute-force scores for shared vec_ids") {
    val brute = Ann.bruteTopK(emb, 0L, 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lsh = Ann.lshTopK(emb, 0L, 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((id, s) <- lsh if brute.contains(id)) assert(brute(id) === s)
  }

  test("minhash+LSH verified pairs ⊆ exact ngram pairs (same threshold)") {
    val exact = Dedup.ngramJaccardPairs(docs, PipelineQueries.JaccardThr)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val mh = Dedup.minHashLshPairs(docs, PipelineQueries.JaccardThr)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(mh.subsetOf(exact), s"minhash found non-pairs: ${mh -- exact}")
    assert(mh.nonEmpty)
    // high-similarity pairs (jac >= 0.5) are found w.h.p. with 4x4 bands
    val strong = exact.filter(_._3 >= 500000)
    assert(strong.subsetOf(mh), s"missed strong pairs: ${strong -- mh}")
  }

  test("hot-shingle cap: boilerplate leaves the universe, near-dups survive") {
    import spark.implicits._
    // 20 docs all carrying the same 6-token boilerplate tail; docs 1/2 are
    // genuine near-dups of each other; docs 3..20 share ONLY boilerplate
    val boiler = "copyright all rights reserved worldwide inc"
    val rows = (1L to 20L).map { i =>
      val body =
        if (i == 1L) "alpha beta gamma delta epsilon"
        else if (i == 2L) "alpha beta gamma delta epsilon zeta"
        else s"distinct content number$i"
      (i, s"$body $boiler")
    }
    val d = rows.toDF("doc_id", "text")
    // the capped universe really is capped (the self-join bucket bound)
    val maxDf = Dedup.cappedShingles(d, 5)
      .groupBy("shingle").count().agg(max("count")).head().getLong(0)
    assert(maxDf <= 5L)
    def pairs(cap: Long) =
      Dedup.ngramJaccardPairs(d, 0.2, maxShingleDf = cap).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // uncapped: every boilerplate-only pair crosses the threshold (4 shared
    // boiler shingles of 7 → jac 0.4); capped: exactly the real near-dup
    assert(pairs(1000000L).size > 100)
    assert(pairs(5L) === Set((1L, 2L)))
    // the sf fixture sits below the production default — default-cap gate
    // results are the uncapped results at this scale
    val fixtureMax = Dedup.shingles(docs)
      .groupBy("shingle").count().agg(max("count")).head().getLong(0)
    assert(fixtureMax <= Dedup.MaxShingleDf)
  }

  test("simhash: near-identical docs land at small hamming distance") {
    val fp = Dedup.simHash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val near = Dedup.ngramJaccardPairs(docs, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(near.nonEmpty)
    for ((a, b) <- near) {
      val ham = java.lang.Long.bitCount(fp(a) ^ fp(b))
      // 32-bit fingerprints: near-identical docs stay in the low quarter
      // of the bit width (the 16-bit threshold was 4)
      assert(ham <= 8, s"docs $a,$b jac>=0.8 but hamming $ham")
    }
  }

  test("text ops sanity: ratios bounded, fingerprint order-sensitive") {
    val q = PipelineQueries.quality(spark, sf).collect()
    for (r <- q) {
      assert(r.getAs[Long]("stop_ratio_x6") <= 1000000L)
      assert(r.getAs[Long]("uniq_ratio_x6") <= 1000000L)
      assert(r.getAs[Long]("avg_word_len_x6") > 0)
    }
    import spark.implicits._
    val two = Seq((1L, "a b c"), (2L, "c b a")).toDF("doc_id", "text")
    val fps = graft.text.TextOps.fingerprint(two).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) !== fps(2L))
  }

  test("chunk-dedup rewrite: duplicate chunks drop, clean docs round-trip") {
    import spark.implicits._
    val w = graft.harness.PipelineQueries.ChunkTokens
    val a = (1 to w).map(i => s"a$i").mkString(" ")     // one full chunk
    val b = (1 to w).map(i => s"b$i").mkString(" ")
    val tail = "t1 t2 t3"                                // partial chunk
    val docs = Seq(
      (1L, s"$a $tail"),        // original: chunk a + partial
      (2L, s"$b $a"),           // chunk a duplicated from doc 1 → dropped
      (3L, b)                   // chunk b duplicated from doc 2 → dropped
    ).toDF("doc_id", "text")
    val out = graft.harness.PipelineQueries.dedupChunkRewriteDf(docs)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === s"$a $tail") // first occurrences keep everything
    assert(out(2L) === b)           // its copy of chunk a removed
    assert(out(3L) === "")          // whole doc was a duplicate chunk
    // a corpus with no duplicates round-trips byte-identically
    val clean = Seq((7L, s"$a $b $tail")).toDF("doc_id", "text")
    assert(graft.harness.PipelineQueries.dedupChunkRewriteDf(clean)
      .head().getString(1) === s"$a $b $tail")
  }

  test("PII redaction: typed placeholders, order contract, non-PII untouched") {
    import spark.implicits._
    val docs = Seq(
      (1L, "mail me at a.b+c@sub.domain.org today"),
      (2L, "server 192.168.0.1 and cell +44 20 7946-0958 ok"),
      (3L, "no pii here just words"),
      (4L, "version 1.2 is not an ip, 12-34 is not a phone"),
      // tightened patterns: out-of-range octets are not an IP anywhere
      // in the literal; double-separated digit runs are not a phone;
      // fewer than 9 total digits is not a phone
      (5L, "peer 999.999.999.999 retried"),
      (6L, "ids 12  34  56  78  90 listed"),
      (7L, "order 12345678 confirmed")
    ).toDF("doc_id", "text")
    val out = graft.text.TextOps.redactPii(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "mail me at <EMAIL> today")
    assert(out(2L) === "server <IP> and cell <PHONE> ok")
    assert(out(3L) === "no pii here just words")
    assert(out(4L) === "version 1.2 is not an ip, 12-34 is not a phone")
    assert(out(5L) === "peer 999.999.999.999 retried")
    assert(out(6L) === "ids 12  34  56  78  90 listed")
    assert(out(7L) === "order 12345678 confirmed")
  }

  test("lang id predicts profile languages on real multilingual text") {
    import spark.implicits._
    val samples = Seq(
      (1L, "der hund und die katze ist nicht hier"),
      (2L, "the cat is in the house and that is fine"),
      (3L, "el perro es un animal de la casa"),
      (4L, "le chat est dans la maison des voisins"),
      (5L, "我 是 一 个 学生 的 朋友 和 不 在")).toDF("doc_id", "text")
    val got = graft.text.TextOps.langId(samples).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) === "de")
    assert(got(2L) === "en")
    assert(got(3L) === "es")
    assert(got(4L) === "fr")
    assert(got(5L) === "zh")
  }

  test("native shingles kernel matches the HOF reference formulation") {
    val native = Dedup.shingles(docs).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val ref = Dedup.shinglesRef(docs).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(native.nonEmpty)
    assert(native === ref)
  }

  test("native dot/lsh-bucket kernels match the Column-fold reference formulation") {
    import org.apache.spark.sql.functions._
    // dot + norm: native expression vs zip_with/aggregate fold, same rows
    val foldDot = aggregate(
      zip_with(col("embedding"), col("embedding"),
        (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (s, v) => s + v)
    val both = emb.select(col("vec_id"),
      Ann.dot(col("embedding"), col("embedding")).as("native"),
      foldDot.as("ref")).collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getDouble(1) === r.getDouble(2),
      s"dot mismatch vec_id=${r.getLong(0)}"))

    // one-pass lsh bucket array vs the per-table fold formulation
    val refBuckets = array((0 until Ann.LshTables).map(t =>
      Ann.bucketCol(col("embedding"), t)): _*)
    val bk = emb.limit(50).select(
      Ann.bucketsCol(col("embedding")).as("native"), refBuckets.as("ref"))
      .collect()
    bk.foreach { r =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1))
    }
  }

  private def u8(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
  private def phs(s: String): Long = graft.text.HashKernels.polyHash(u8(s))

  test("gram-hash kernel: shingle/chunk geometry, partial tails, non-ASCII") {
    def gh(s: String, n: Int, stride: Int, partial: Boolean): Seq[Long] =
      graft.text.HashKernels.gramHashes(u8(s), n, stride, partial)
        .toLongArray().toSeq
    // overlapping shingles (stride 1, no partial): exactly len-n+1 grams
    assert(gh("a b c d", 3, 1, partial = false) === Seq(phs("a b c"), phs("b c d")))
    assert(gh("a b", 3, 1, partial = false) === Seq.empty)
    // non-overlapping chunks keep the ragged tail
    assert(gh("a b c d e", 2, 2, partial = true) ===
      Seq(phs("a b"), phs("c d"), phs("e")))
    // exact multiple: no extra tail chunk
    assert(gh("a b c d", 2, 2, partial = true) === Seq(phs("a b"), phs("c d")))
    // empty text is one empty token (split(" ", -1) semantics)
    assert(gh("", 2, 2, partial = true) === Seq(phs("")))
    // multi-byte text: gram hash == polyHash of the space-joined gram string
    assert(gh("héllo wörld 日本", 2, 1, partial = false) ===
      Seq(phs("héllo wörld"), phs("wörld 日本")))
  }

  test("repStats kernel matches a brute-force String reference") {
    def ref(s: String): Seq[Long] = {
      val toks = s.split(" ", -1)
      def cp(g: String): Long = g.codePointCount(0, g.length).toLong
      def groups(n: Int): Map[Long, (Long, Long)] =
        (0 to toks.length - n).map(i => toks.slice(i, i + n).mkString(" "))
          .groupBy(phs).map { case (h, gs) =>
            h -> (gs.size.toLong, gs.map(cp).sum)
          }
      def key(n: Int): Long =
        if (toks.length < n) 0L
        else groups(n).values.map { case (c, m) => c * (1L << 40) + m }.max
      val dup3 =
        if (toks.length < 3) 0L
        else groups(3).values.collect { case (c, m) if c >= 2 => m }.sum
      Seq(key(1), key(2), key(3), dup3)
    }
    val fixtures = Seq(
      "a a a b", "x", "", "aa bb aa bb aa",
      "p q r p q r p q r s",        // repeated 3-grams → dup3 > 0
      "é ü é ü é",                   // non-ASCII mass counts codepoints
      "one two three four five six")
    fixtures.foreach { s =>
      val got = graft.text.HashKernels.repStats(u8(s)).toLongArray().toSeq
      assert(got === ref(s), s"repStats mismatch on '$s'")
    }
    // sanity: the all-repeats doc has top1 count 3 ("a" × 3)
    val aKey = graft.text.HashKernels.repStats(u8("a a a b")).getLong(0)
    assert(aKey >> 40 === 3L)
  }

  test("chunk dedup drops later exact chunk occurrences, global keep-first") {
    import spark.implicits._
    val W = PipelineQueries.ChunkTokens
    def chunk(tag: String) = (1 to W).map(i => s"$tag$i").mkString(" ")
    val (c1, c2, c3, c4) = (chunk("a"), chunk("b"), chunk("c"), chunk("d"))
    val d = Seq(
      (0L, s"$c1 $c2"),        // chunks: c1@0, c2@1
      (1L, s"$c3 $c1"),        // c1 repeats cross-doc → (1,1) dropped
      (2L, s"$c4 $c4")         // within-doc repeat → (2,1) dropped
    ).toDF("doc_id", "text")
    val dropped = PipelineQueries.dedupChunkDf(d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dropped === Set((1L, 1L), (2L, 1L)))
  }

  test("decontamination flags exactly the train docs sharing an eval gram") {
    import spark.implicits._
    val m = PipelineQueries.DecontEvalMod
    val d = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),       // eval (0 mod m)
      (1L, "x1 alpha beta gamma delta epsilon x2"),      // shares 2 5-grams
      (2L, "p q r s t u v"),                             // disjoint
      (m.toLong, "p q r s t u v w")                      // eval too → doc 2 overlaps
    ).toDF("doc_id", "text")
    val got = PipelineQueries.decontaminateDf(d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // doc1: grams "alpha..epsilon" and "beta..zeta"? only the first is in doc0's
    // gram set plus "alpha beta gamma delta epsilon" — count the shared ids
    assert(got.keySet === Set(1L, 2L))
    assert(got(1L) === 1L)  // exactly one shared 5-gram with doc 0
    assert(got(2L) === 3L)  // docs 2's three 5-grams all appear in doc m
  }

  test("connected components: chains merge, clusters label by min member (both paths)") {
    import spark.implicits._
    // 1-2-3-7 is a 3-hop chain; 10-11 an independent pair; plus a longer
    // drift chain 20..29 (exercises >1 relax+jump round on the
    // distributed path)
    val pairs = (Seq((1L, 2L), (2L, 3L), (10L, 11L), (7L, 3L)) ++
      (20L until 29L).map(i => (i + 1, i))).toDF("a_id", "b_id")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L,
      10L -> 10L, 11L -> 10L) ++ (20L to 29L).map(_ -> 20L).toMap
    // driver union-find path (default threshold)
    val ccDriver = graft.dedup.Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ccDriver === expected)
    // distributed relax+jump path (the 100-TB shape), forced via the seam
    val prev = graft.dedup.Dedup.ccDriverMaxEdges
    try {
      graft.dedup.Dedup.ccDriverMaxEdges = 0L
      val ccDist = graft.dedup.Dedup.connectedComponents(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(ccDist === expected)
    } finally graft.dedup.Dedup.ccDriverMaxEdges = prev
  }

  // ---- round-6 optimization pins: the re-planned operators must stay
  // row-identical to their straightforward reference formulations --------

  test("simhash banded pairs ≡ brute-force popcount pairs (round-6 plan change)") {
    // the banded join + filter-before-distinct must be EXACT at
    // hamming ≤ SimBands−1: compare against the O(n²) driver reference
    // over the full fixture corpus
    val sigs = Dedup.simHash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ids = sigs.keys.toArray.sorted
    val brute = (for {
      i <- ids.indices.iterator
      j <- (i + 1) until ids.length
      h = java.lang.Long.bitCount(sigs(ids(i)) ^ sigs(ids(j)))
      if h <= Dedup.SimHamMax
    } yield (ids(i), ids(j), h.toLong)).toSet
    val banded = Dedup.simHashPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded === brute,
      s"banded minus brute: ${banded -- brute}; brute minus banded: ${brute -- banded}")
  }

  test("ngram jaccard single-exchange formulation ≡ anti-join reference (round-6 plan change)") {
    // the retained cappedShingles builder replays the pre-round-6 plan:
    // anti-joined capped universe → inverted self-join → size joins
    val thr = PipelineQueries.JaccardThr
    val cap = Dedup.MaxShingleDf
    val sh = Dedup.cappedShingles(docs, cap)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val ref = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("c"))
      .join(sizes.as("sa"), col("a_id") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("b_id") === col("sb.doc_id"))
      .select(col("a_id"), col("b_id"),
        (col("c").cast("double") / (col("sa.n") + col("sb.n") - col("c")))
          .as("jac"))
      .filter(col("jac") >= thr)
      .select(col("a_id"), col("b_id"),
        round(col("jac") * 1e6).cast("long").as("jac_x6"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val opt = Dedup.ngramJaccardPairs(docs, thr).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(opt === ref,
      s"opt minus ref: ${opt -- ref}; ref minus opt: ${ref -- opt}")
  }
}
