package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (Array[Float], 64-dim):
  * brute-force cosine top-k as the exact baseline, pairwise near-dup pairs,
  * and a random-hyperplane LSH-bucketed variant as the scale path.
  *
  * All vector math is pure column expressions (zip_with/aggregate folds run
  * inside whole-stage codegen — no UDF, no explode shuffle for the
  * brute-force path; the per-row fold is index-ordered so it is
  * deterministic). Floats are cast to double per element before any
  * arithmetic for cross-engine reproducibility; comparisons use micro-unit
  * rounding. */
object Ann {

  private def d(c: Column): Column = c.cast("double")

  /** Native codegen'd kernel (VecExpressions); left-to-right double sum —
    * same arithmetic as the zip_with/aggregate fold it replaced. */
  def dot(a: Column, b: Column): Column = VecExpressions.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact cosine top-k against one stored query vector (vec_id = qid).
    * The query row is broadcast; the scan is one narrow pass — at cluster
    * scale this is the per-query fan-out model (score all, TakeOrdered k).
    * Norms are computed once per side, not per pair. */
  def bruteTopK(emb: DataFrame, queryVecId: Long, k: Int): DataFrame = {
    val q = emb.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_emb"), norm(col("embedding")).as("q_nrm"))
    emb.filter(col("vec_id") =!= queryVecId)
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(dot(col("embedding"), col("q_emb")) / (col("nrm") * col("q_nrm")) * 1e6)
          .cast("long").as("cos_x6"))
      .orderBy(col("cos_x6").desc, col("vec_id").asc)
      .limit(k)
  }

  /** All pairs with cosine ≥ thr — embedding near-dup dedup. Brute force
    * O(n²) here (exact oracle); the LSH bucketing below is the scale path.
    * Per-row norms are materialized BEFORE the cross join (one dot per pair
    * instead of three). */
  def nearDupPairs(emb: DataFrame, thr: Double): DataFrame = {
    val withN = emb.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"))
    // round 6: the stream side of the nested-loop join inherits the SCAN's
    // partitioning — a small parquet file reads as ONE split, serializing
    // the whole n²/2 dot workload on a single task. Spread the stream side
    // across the cores when the scan under-partitions (never shrink an
    // already-wide layout; the exchange moves only n rows). The width comes
    // from this frame's own physical plan: `.rdd` would plan a second,
    // deserializing query just to count partitions.
    val spark = emb.sparkSession
    val width = spark.sparkContext.defaultParallelism
    val aSide =
      if (withN.queryExecution.toRdd.getNumPartitions >= width) withN
      else withN.repartition(width)
    val a = aSide.as("a"); val b = withN.as("b")
    a.crossJoin(b)
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        round(dot(col("a.embedding"), col("b.embedding"))
          / (col("a.nrm") * col("b.nrm")) * 1e6)
          .cast("long").as("cos_x6"))
      // threshold on the ROUNDED value so ULP noise can't flip inclusion
      // between engines
      .filter(col("cos_x6") >= math.round(thr * 1e6))
      .orderBy("a_id", "b_id")
  }

  /** Top-24 bits of the splitmix64 finalizer over the flat plane index —
    * the integer seed of one plane component. Exposed so the DuckDB oracle
    * can embed the planes as exact integer literals and reconstruct
    * bit-identical doubles ((k − 2^23)/2^24 is exact in binary64). */
  def planeBits(j: Int, i: Int): Long = {
    var z = (j.toLong * 64 + i) * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    z >>> 40
  }

  /** Deterministic pseudo-random hyperplane component r(j,i) ∈ [-0.5, 0.5):
    * splitmix64 finalizer over the flat plane index — exact integer
    * arithmetic, reproducible anywhere, and (unlike a Weyl sequence) free of
    * serial correlation across components, so the planes are isotropic. */
  def planeComponent(j: Int, i: Int): Double =
    planeBits(j, i).toDouble / (1L << 24).toDouble - 0.5

  /** Multi-table LSH parameters: L tables of m sign-bits each. A single
    * table's collision probability for angle θ is (1−θ/π)^m — far too low
    * for useful recall — so candidates are unioned across L independent
    * tables (standard multi-table random-hyperplane LSH). */
  val LshTables = 24
  val LshBits = 6

  /** Sign-bucket of a vector in table t (uses planes t·m … t·m+m−1).
    * Reference formulation (kept as the spec/test oracle for the native
    * kernel below). */
  def bucketCol(emb: Column, table: Int): Column = {
    val bits = (0 until LshBits).map { j =>
      val dotP = aggregate(
        zip_with(emb,
          array((0 until 64).map(i =>
            lit(planeComponent(table * LshBits + j, i))): _*),
          (x, p) => d(x) * p),
        lit(0.0), (s, v) => s + v)
      when(dotP > 0, lit(1L << j)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Array of all L bucket ids for a vector — native one-pass kernel
    * (144 interpreted folds → one codegen'd loop). */
  def bucketsCol(emb: Column): Column = VecExpressions.lshBuckets(emb)

  /** IVF parameters: C coarse cells, nprobe probed per query, Lloyd
    * training rounds over a 1-in-`IvfTrainStride` deterministic sample
    * (the faiss model: k-means trains on a bounded sample, the full
    * corpus is assigned exactly once afterwards — at 10^12 rows the
    * training job touches corpus/stride vectors per round while the
    * assignment scan stays the single linear pass it always was). */
  val IvfCells = 8
  val IvfProbe = 2
  val IvfLloydRounds = 2
  val IvfTrainStride = 2L

  /** Seed centroids: the embeddings of vec_id < C — deterministic and
    * identically reconstructible by the oracle. */
  private def seedCentroids(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < IvfCells)
      .select(col("vec_id").as("cid"), col("embedding").as("c_emb"),
        norm(col("embedding")).as("c_nrm"))

  /** One Lloyd round: argmax-cosine assignment of the training sample
    * (micro-rounded, cid tiebreak — both engines pick identical cells),
    * then per-dimension mean, micro-rounded AND float32-quantized so the
    * new centroid's exact bits are engine-independent (round(x·1e6)/1e6
    * of the same micro-long is the same double everywhere; its float cast
    * is IEEE-deterministic). Empty cells keep their previous centroid. */
  private def lloydRound(train: DataFrame, cents: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"))
      .orderBy(col("a_cos").desc, col("cid").asc)
    val assigned = train.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("cid"),
        round(dot(col("embedding"), col("c_emb"))
          / (col("nrm") * col("c_nrm")) * 1e6).cast("long").as("a_cos"))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select("cid", "embedding")
    val means = assigned
      .select(col("cid"), posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy(col("cid"), col("i"))
      .agg((round(avg(col("x").cast("double")) * 1e6) / 1e6)
        .cast("float").as("m"))
      .groupBy(col("cid"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("m")))),
        s => s.getField("m")).as("new_emb"))
    cents.join(means, Seq("cid"), "left")
      .select(col("cid"), coalesce(col("new_emb"), col("c_emb")).as("c_emb"))
      .withColumn("c_nrm", norm(col("c_emb")))
  }

  /** k-means-trained IVF centroids: seed from fixed ids, refine with
    * [[IvfLloydRounds]] Lloyd rounds over the stride sample. Centroid
    * tables are C rows — broadcast every round; the training scan is
    * sample×C per round. */
  def ivfCentroids(emb: DataFrame,
                   lloydRounds: Int = IvfLloydRounds): DataFrame = {
    val train = emb
      .filter(pmod(col("vec_id"), lit(IvfTrainStride)) === 0)
      .select(col("vec_id"), col("embedding"),
        norm(col("embedding")).as("nrm"))
    var cents = seedCentroids(emb)
    for (_ <- 1 to lloydRounds) cents = lloydRound(train, cents)
    cents
  }

  /** IVF-Flat ANN: coarse cells from C k-means-trained centroids
    * ([[ivfCentroids]] — Lloyd over a deterministic sample, exactly
    * replayable by the oracle's unrolled fixed-point arithmetic).
    * Ingest-side work is the linear |V|×C assignment scan against
    * BROADCAST centroids (one narrow pass — the real IVF build shape);
    * query-side work probes only the nprobe closest cells' members, then
    * exact cosine top-k on those candidates. Assignment and probe order
    * use micro-rounded cosines with centroid-id tiebreaks so both
    * engines pick identical cells. `lloydRounds = 0` = the untrained
    * seed centroids (the recall baseline in PipelineSpec). */
  /** Argmax-cosine cell assignment of every vector (micro-rounded, cid
    * tiebreak — engine-independent): (vec_id, embedding, nrm, cid). The
    * linear |V|×C scan against BROADCAST centroids — the IVF build's one
    * corpus pass. */
  def assignCells(emb: DataFrame, cents: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"))
      .orderBy(col("a_cos").desc, col("cid").asc)
    emb
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cid"),
        round(dot(col("embedding"), col("c_emb"))
          / (col("nrm") * col("c_nrm")) * 1e6).cast("long").as("a_cos"))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select("vec_id", "embedding", "nrm", "cid")
  }

  def ivfTopK(emb: DataFrame, queryVecId: Long, k: Int,
              lloydRounds: Int = IvfLloydRounds): DataFrame = {
    val cents = ivfCentroids(emb, lloydRounds)
    val assigned = assignCells(emb, cents)
    val qCells = assigned.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
      .crossJoin(broadcast(cents))
      .select(col("cid"), col("q_emb"), col("q_nrm"),
        round(dot(col("q_emb"), col("c_emb"))
          / (col("q_nrm") * col("c_nrm")) * 1e6).cast("long").as("q_cos"))
      .orderBy(col("q_cos").desc, col("cid").asc)
      .limit(IvfProbe)
    assigned.filter(col("vec_id") =!= queryVecId)
      .join(broadcast(qCells), "cid")
      .select(col("vec_id"),
        round(dot(col("embedding"), col("q_emb"))
          / (col("nrm") * col("q_nrm")) * 1e6).cast("long").as("cos_x6"))
      .orderBy(col("cos_x6").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Ingest-side IVF index build (the faiss lifecycle: train once, assign
    * the corpus once, PERSIST — queries never pay training): centroids
    * (C rows) plus the assignments written `partitionBy("cid")`, so a
    * query's nprobe cell probe is parquet PARTITION PRUNING at the
    * source — at nlist = 65536 a 2-probe query reads 2/65536 of the
    * corpus directly off the directory layout, no filter scan, no index
    * lookup. Idempotent via the [[IvfMarker]], which holds a fresh
    * generation id per build (the centroid cache's key). */
  def ensureIvf(spark: org.apache.spark.sql.SparkSession, emb: DataFrame,
                dir: String, lloydRounds: Int = IvfLloydRounds): String = {
    val done = java.nio.file.Paths.get(dir, IvfMarker)
    if (!java.nio.file.Files.exists(done)) {
      val cents = ivfCentroids(emb, lloydRounds)
      cents.write.mode("overwrite").parquet(s"$dir/centroids")
      assignCells(emb, cents)
        .write.mode("overwrite").partitionBy("cid").parquet(s"$dir/cells")
      // id-keyed vector sidecar (the faiss "reconstruct" store): globally
      // sorted by vec_id so the probe's query-vector fetch prunes to one
      // file/row-group — without it the fetch would list and scan EVERY
      // cell partition before the pruned nprobe scan, defeating the
      // partition-pruning design at exactly the nlist the design targets
      spark.read.parquet(s"$dir/cells")
        .select(col("vec_id"), col("embedding"), col("nrm"))
        .sort("vec_id")
        .write.mode("overwrite").parquet(s"$dir/vectors")
      java.nio.file.Files.writeString(done,
        java.util.UUID.randomUUID().toString)
    }
    dir
  }

  /** The completion marker of a persisted IVF index. */
  val IvfMarker = "_ivf_done_v2"

  /** Same left-to-right float→double fold as the codegen DotExpr kernel —
    * the driver-side probe ordering must reproduce the engine's cosine
    * bits exactly. */
  private def dotF(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** One index dir's cached centroid rows, with the SparkContext and the
    * marker generation they were read under. */
  private final case class CachedCentroids(
      sc: java.lang.ref.WeakReference[org.apache.spark.SparkContext],
      generation: String, rows: Array[(Long, Array[Float], Double)])

  /** Driver-resident coarse-quantizer cache per index dir. The coarse
    * quantizer IS driver-resident in every IVF serving design;
    * re-collecting its C rows per query was one whole Spark job of pure
    * overhead (round-6 measurement). An entry serves only the SparkContext
    * that read it and only the marker generation it was read under —
    * [[ensureIvf]] writes a fresh one on every build, so a rebuild within
    * one file-timestamp tick still invalidates it. */
  private val centroidCache =
    new java.util.concurrent.ConcurrentHashMap[String, CachedCentroids]()

  private[graft] def centroidsFor(spark: org.apache.spark.sql.SparkSession,
      dir: String): Array[(Long, Array[Float], Double)] = {
    def read() = spark.read.parquet(s"$dir/centroids").collect().map { r =>
      (r.getAs[Long]("cid"),
        r.getAs[scala.collection.Seq[Float]]("c_emb").toArray,
        r.getAs[Double]("c_nrm"))
    }
    val marker = java.nio.file.Paths.get(dir, IvfMarker)
    val generation =
      if (java.nio.file.Files.exists(marker))
        java.nio.file.Files.readString(marker).trim
      else ""
    // no marker or no generation in it (external/partial build) ⇒ no
    // residency — read fresh each probe rather than caching an
    // unverifiable snapshot
    if (generation.isEmpty) return read()
    val sc = spark.sparkContext
    centroidCache.compute(dir, (_, cur) =>
      if (cur != null && (cur.sc.get eq sc) && cur.generation == generation) cur
      else CachedCentroids(new java.lang.ref.WeakReference(sc), generation,
        read())).rows
  }

  /** Serving-side IVF query against a persisted index ([[ensureIvf]]):
    * centroids collect to the driver once per index generation
    * ([[centroidsFor]] — C rows, the coarse quantizer IS driver-resident
    * in every IVF serving design), probe order =
    * micro-rounded cosine desc / cid asc (identical to [[ivfTopK]] and
    * the oracle), then exact cosine top-k over ONLY the probed cells'
    * partitions. Returns (vec_id, cos_x6) — same contract as
    * [[ivfTopK]], same results (spec-pinned). */
  def ivfProbe(spark: org.apache.spark.sql.SparkSession, dir: String,
               queryVecId: Long, k: Int): DataFrame = {
    val cells = spark.read.parquet(s"$dir/cells")
    // point fetch off the vec_id-sorted sidecar (row-group pruned), never
    // a scan of the cell partitions
    val q = spark.read.parquet(s"$dir/vectors")
      .filter(col("vec_id") === queryVecId)
      .select(col("embedding"), col("nrm")).head()
    val qEmb = q.getSeq[Float](0).toArray
    val qNrm = q.getDouble(1)
    val probed = centroidsFor(spark, dir)
      .map { case (cid, cEmb, cNrm) =>
        (math.round(dotF(qEmb, cEmb) / (qNrm * cNrm) * 1e6), cid)
      }
      .sortBy { case (cos, cid) => (-cos, cid) }
      .take(IvfProbe).map(_._2).toSeq
    cells.filter(col("cid").isin(probed: _*))
      .filter(col("vec_id") =!= queryVecId)
      .select(col("vec_id"),
        round(dot(col("embedding"), typedlit(qEmb.toSeq))
          / (col("nrm") * lit(qNrm)) * 1e6).cast("long").as("cos_x6"))
      .orderBy(col("cos_x6").desc, col("vec_id").asc)
      .limit(k)
  }

  /** LSH-bucketed ANN: a candidate shares ≥1 of L sign-buckets with the
    * query; exact cosine on candidates only; top-k. Approximate by design
    * (recall asserted vs bruteTopK in PipelineSpec); at scale the bucket
    * join touches a small fraction of the corpus instead of the n² cross
    * product, and buckets are computed once at ingest, not per query. */
  def lshTopK(emb: DataFrame, queryVecId: Long, k: Int): DataFrame = {
    val withBuckets = emb.select(col("vec_id"), col("embedding"),
      posexplode(bucketsCol(col("embedding"))).as(Seq("t", "bucket")))
    val q = withBuckets.filter(col("vec_id") === queryVecId)
      .select(col("t"), col("bucket"), col("embedding").as("q_emb"))
    withBuckets.filter(col("vec_id") =!= queryVecId)
      .join(broadcast(q), Seq("t", "bucket"))
      .select(col("vec_id"), col("embedding"), col("q_emb"))
      .distinct()
      .select(col("vec_id"),
        round(cosine(col("embedding"), col("q_emb")) * 1e6).cast("long")
          .as("cos_x6"))
      .orderBy(col("cos_x6").desc, col("vec_id").asc)
      .limit(k)
  }
}
