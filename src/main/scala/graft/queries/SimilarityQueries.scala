package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}
import graft.sources.Tables

/** Approximate-nearest-neighbor queries over `embeddings`: brute-force
  * cosine top-k (the exactness baseline), sign-hyperplane LSH (bucketed),
  * IVF with a fixed-k k-means coarse quantizer (the 100 TB path), and a
  * recall@K metric of each approximate method against brute-force truth —
  * the number a real user tunes nBits / k / nProbe against. Query set =
  * vec_id < 5.
  */
object SimilarityQueries {

  final val K = 10
  /** sim_knn_graph: neighbors kept per corpus vector. */
  final val KnnK = 5
  /** sim_knn_graph_scaled: target per-bucket population B and the max
    * derivable signature width. nBits = min w in [LshBits, KnnMaxBits]
    * with B * 2^w >= N (integer-exact in both engines, no FP log2) keeps
    * per-bucket population ~B as the corpus grows — the scaling rule of
    * [[knnGraphRes]]'s scaladoc, driver-registered: pair work stays
    * N * B * (nBits+1), linear in N, instead of the fixed-width
    * N^2 (nBits+1) / 2^nBits.
    */
  final val KnnBucketTarget = 8
  final val KnnMaxBits = 20
  /** sim_knn_graph (fixed-width form): max vectors the registered query
    * will pair up. The sub-corpus is a deterministic modulo sample at
    * the smallest power-of-two stride with N/stride <= this cap, so the
    * registered plan's pair work is BOUNDED (<= Cap^2 (nBits+1) / 2^nBits)
    * no matter the corpus size — stride 1 (the full corpus, bit-identical
    * to the uncapped form) at every driver test scale, kicking in only
    * beyond 4096 vectors. The uncapped fixed-width build stays available
    * as [[knnGraphRes]] (the quadratic contrast point of
    * `graft.Bench scale N`'s knn_graph@bits line); the
    * production path is [[knnScaledBits]]'s derived-width
    * sim_knn_graph_scaled.
    */
  final val KnnSampleCap = 4096L
  /** sim_knn_graph_banded: number of independent signature bands
    * (OR-amplification). Each band is a knnScaledBits-wide table over
    * its OWN hyperplane slice; a pair is a candidate if it collides in
    * ANY band — recall ≈ 1-(1-p^r)^b instead of the single-table p^r,
    * at build cost × b, still linear in N. MEASURED CAVEAT
    * (BASELINE.md): at b=4 pure banding recalls LESS than Hamming-1
    * probing of one table (w+1 probe masks beat 4 independent tables
    * at these widths) — banding's value is as the recall dial with
    * LINEAR cost at any width (b=16-64 for production targets, where
    * probe-radius growth explodes combinatorially) and that each band
    * can itself be Hamming-probed, multiplying the two gains.
    */
  final val KnnBands = 4
  /** sim_decontam: a test vector with a train-side neighbor at cosine
    * >= this is flagged as semantically leaked. 0.35 sits above the
    * corpus's 75th-percentile pair cosine (~0.29) and below its max
    * (~0.49), so the flag set is non-trivial and boundary-stable (the
    * nearest pair cosines are not clustered at the threshold).
    */
  final val DecontamCosine = 0.35
  /** Default LSH signature width. A PARAMETER of the lsh builders (more
    * bits = smaller buckets = faster + lower recall) — this is only the
    * default the driver queries run at.
    */
  final val LshBits = 6
  final val Dim = 64
  /** IVF quantizer: k centroids from `IvfSample` training vectors (both
    * fixed — independent of corpus size), `IvfIters` Lloyd rounds.
    * `IvfProbe` is the default probe depth (cells searched per query) —
    * the first knob an operator turns at scale, so the builders take it
    * as a parameter and `sim_ann_recall` measures nProbe ∈ {1, 2, 4}.
    */
  final val IvfK = 16
  final val IvfSample = 256
  final val IvfIters = 2
  final val IvfSalt = 7
  final val IvfProbe = 2
  /** Product quantization: PqM subspaces of PqSub dims each, PqK
    * centroids per subspace codebook — a vector's code is PqM small
    * ints (PqM * log2(PqK) = 12 bits of information vs Dim * 4-byte
    * floats, the >20x memory knob that lets a 100 TB corpus's ANN
    * working set live in RAM). Trained on the same deterministic
    * IvfSample-row sample as the IVF quantizer (own salt).
    */
  final val PqM = 4
  final val PqSub = 16 // Dim / PqM
  final val PqK = 8
  final val PqIters = 2
  final val PqSalt = 11
  /** sim_ann_pq_rerank shortlist depth: ADC keeps this many candidates
    * per query; only their full-precision vectors are read for the
    * exact-cosine rerank.
    */
  final val PqShortK = 50

  private def signs(nBits: Int) = Similarity.signMatrix(nBits, Dim)

  private def vecs(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), Dedup.toDoubleVec(col("embedding")).as("v"))

  /** The staged distribution-drift scenario shared by the *_retrain
    * queries: a CONCENTRATED crawl wave — every 3rd base vector shifted
    * by +2.0 per component (a new domain cluster: all wave vectors sit
    * near the all-ones direction, a region no quantizer fit to the
    * base distribution covers), at ids offset past the base range.
    * This is the drift shape that actually hurts a frozen quantizer:
    * the wave quantizes badly (gauge fires hard) AND piles into the
    * one stale cell nearest its region (hot-partition scans —
    * BASELINE.md's "Round-14 quantizer-retrain lifecycle receipt"
    * prices both). Returns (drift wave, offset). The
    * +2.0 shift is one IEEE add per component — bit-reproducible in
    * the oracle ([[driftVecsCtes]]).
    */
  private def driftWave(all: DataFrame): (DataFrame, Long) = {
    val off = all.agg(max("vec_id")).collect()(0).getLong(0) + 1L // 1 row
    val wave = all.filter(col("vec_id") % 3 === 0)
      .select((col("vec_id") + lit(off)).as("vec_id"),
        transform(col("v"), x => x + lit(2.0)).as("v"))
    (wave, off)
  }

  /** The GROWTH-drift scenario for sim_ann_lsh_rebucket: the corpus
    * DOUBLES (a crawl wave of genuinely different vectors — each base
    * vector rotated by one dimension, `graft.Bench scale`'s recipe — at offset
    * ids). Unlike [[driftWave]]'s concentrated cluster, this is the
    * drift that hurts LSH: hyperplanes are data-independent, so
    * per-bucket population N/2^w grows with every wave and probes scan
    * ever-fatter buckets until the width rule re-buckets.
    */
  private def growthWave(all: DataFrame): (DataFrame, Long) = {
    val off = all.agg(max("vec_id")).collect()(0).getLong(0) + 1L // 1 row
    val wave = all.select((col("vec_id") + lit(off)).as("vec_id"),
      concat(slice(col("v"), 2, Dim - 1), slice(col("v"), 1, 1)).as("v"))
    (wave, off)
  }

  /** Oracle side of [[driftWave]]: rebinds `vecs` to base ∪ wave, so
    * the shared quantizer CTEs run on the drifted world verbatim.
    */
  private val driftVecsCtes =
    s"""vecs_base AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |), vecs AS (
       |  SELECT vec_id, v FROM vecs_base
       |  UNION ALL
       |  SELECT b.vec_id + (SELECT MAX(vec_id) + 1 FROM vecs_base) AS vec_id,
       |         list_transform(b.v, x -> x + 2.0) AS v
       |  FROM vecs_base b WHERE b.vec_id % 3 = 0
       |)""".stripMargin

  // ------------------------------------------------------- result builders

  /** k-NN graph at signature width `nBits`: corpus keeps one LSH bucket
    * per vector; the probe side (also the corpus) fans out to its
    * Hamming-1 neighborhood (masks distinct => each candidate scored at
    * most once per source); the bucket equi-join shuffles both sides by
    * bucket and the per-source top-K compiles to WindowGroupLimit.
    *
    * SCALING RULE — nBits is not a tuning nicety, it is what keeps this
    * sub-quadratic: expected pairs scored = N^2 (nBits+1) / 2^nBits, so
    * at FIXED nBits the self-join grows quadratically with the corpus
    * (the 10x probe shows exactly that at nBits=6: 40x time for 10x
    * rows). Hold per-bucket population B = N / 2^nBits constant —
    * nBits = log2(N/B) — and the work is N * B * (nBits+1), linear in N
    * up to the log-factor probe fan-out; BASELINE.md records the 10x
    * probe recovering ~linear at nBits = 6 + ceil(log2(10)). The recall
    * trade is the standard LSH one: narrower buckets -> more probes
    * (Hamming radius) to hold recall, which multiplies the linear term,
    * never the quadratic one.
    */
  def knnGraphRes(s: SparkSession, dir: String, nBits: Int): DataFrame =
    knnGraphFrom(vecs(s, dir), nBits)

  private def knnGraphFrom(corpus: DataFrame, nBits: Int): DataFrame = {
    val all = corpus.withColumn("bucket",
      Similarity.lshBucket(col("v"), signs(nBits)))
    val probes = all.select(col("vec_id").as("q_id"), col("v").as("q_v"),
      explode(array(mpMasks(nBits).map(m =>
        col("bucket").bitwiseXOR(lit(m))): _*)).as("bucket"))
    val c = all.select(col("vec_id").as("c_id"), col("v").as("c_v"), col("bucket"))
    val scored = probes.join(c, Seq("bucket")).filter(col("q_id") =!= col("c_id"))
      .withColumn("cosine", Dedup.cosine(col("q_v"), col("c_v")))
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("c_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= KnnK)
      .select("q_id", "rnk", "c_id", "cosine")
      .orderBy("q_id", "rnk")
  }

  /** The [[KnnBucketTarget]] scaling rule, integer-exact: smallest width
    * in [LshBits, KnnMaxBits] whose bucket space holds the corpus at ~B
    * vectors per bucket.
    */
  private[graft] def knnScaledBits(n: Long): Int =
    (LshBits to KnnMaxBits)
      .find(w => (KnnBucketTarget.toLong << w) >= n)
      .getOrElse(KnnMaxBits)

  /** [[KnnSampleCap]]'s stride rule, integer-exact: smallest power-of-two
    * stride whose modulo sample fits the cap (N / stride <= Cap).
    */
  private[graft] def knnSampleStride(n: Long): Long =
    (0 to 40).map(1L << _).find(s => s * KnnSampleCap >= n).getOrElse(1L << 40)

  /** Graph edges (q_id, c_id) the scaled-width build would emit for the
    * vec_id < 5 query set, at probe mask set `masks` — the recall
    * measurement slice of [[knnGraphFrom]]: same bucketing, same probe
    * fan-out, same top-KnnK re-rank, probe side restricted to the
    * queries under test (bucket equi-join ⇒ identical edges for them).
    */
  private def knnEdgesFor(all: DataFrame, nBits: Int, masks: Seq[Long]): DataFrame = {
    val b = all.withColumn("bucket", Similarity.lshBucket(col("v"), signs(nBits)))
    val q = broadcast(b.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"),
        explode(array(masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*)).as("bucket")))
    val c = b.select(col("vec_id").as("c_id"), col("v").as("c_v"), col("bucket"))
    val scored = q.join(c, Seq("bucket")).filter(col("q_id") =!= col("c_id"))
      .withColumn("cosine", Dedup.cosine(col("q_v"), col("c_v")))
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("c_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= KnnK)
      .select("q_id", "c_id")
  }

  /** Hamming-&le;2 probe masks: all pairwise XORs of the Hamming-&le;1 set
    * (0 ⊕ 0 = identity, 0 ⊕ bit = Hamming-1, bit ⊕ bit' = Hamming-2).
    */
  private def mpMasks2(nBits: Int): Seq[Long] = {
    val m1 = mpMasks(nBits)
    (for (a <- m1; b <- m1) yield a ^ b).distinct
  }

  /** Banded top-KnnK edges: every vector gets one bucket per band
    * (band i = hyperplane slice [i*r, (i+1)*r) of one prefix-stable
    * family — so the oracle can rebuild any band from a flat plane-bit
    * list), candidates collide on (band, bucket), pairs found by
    * several bands are deduped BEFORE the rank so each is scored once
    * in the window. `qFilter` restricts the probe side (whole corpus
    * for the graph build, vec_id < 5 for the recall slice).
    */
  private def knnBandedTopK(all: DataFrame, r: Int, qFilter: Column): DataFrame = {
    val fullSigns = Similarity.signMatrix(KnnBands * r, Dim)
    val banded = all.select(col("vec_id"), col("v"),
      explode(array((0 until KnnBands).map { i =>
        struct(lit(i).as("band"),
          Similarity.lshBucket(col("v"), fullSigns.slice(i * r, (i + 1) * r)).as("bucket"))
      }: _*)).as("bb"))
      .select(col("vec_id"), col("v"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val q = banded.filter(qFilter)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"), col("band"), col("bucket"))
    val c = banded.select(col("vec_id").as("c_id"), col("v").as("c_v"), col("band"), col("bucket"))
    val scored = q.join(c, Seq("band", "bucket"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cosine", Dedup.cosine(col("q_v"), col("c_v")))
      .select("q_id", "c_id", "cosine")
      .distinct()
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("c_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= KnnK)
      .select("q_id", "rnk", "c_id", "cosine")
  }

  private def bruteRes(s: SparkSession, dir: String): DataFrame = {
    val all = vecs(s, dir)
    Similarity.bruteForceTopK(all.filter(col("vec_id") < 5), all, K)
  }

  private def lshRes(s: SparkSession, dir: String, nBits: Int = LshBits): DataFrame = {
    val all = vecs(s, dir).withColumn("bucket", Similarity.lshBucket(col("v"), signs(nBits)))
    val q = broadcast(all.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"), col("bucket")))
    val c = all.select(col("vec_id").as("c_id"), col("v").as("c_v"), col("bucket"))
    val scored = q.join(c, Seq("bucket")).filter(col("q_id") =!= col("c_id"))
      .withColumn("cosine", Dedup.cosine(col("q_v"), col("c_v")))
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("c_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= K)
      .select("q_id", "rnk", "c_id", "cosine")
  }

  /** XOR masks for multi-probe: the identity probe plus one per flipped
    * signature bit (Hamming-1 neighborhood).
    */
  private def mpMasks(nBits: Int): Seq[Long] = 0L +: (0 until nBits).map(i => 1L << i)

  /** Multi-probe LSH: each query probes its own bucket AND the `LshBits`
    * buckets at Hamming distance 1 (signature bits near a hyperplane flip
    * under small perturbations, so most misses land one bit away). This
    * is the standard production recall knob at FIXED nBits (Lv et al.,
    * "Multi-Probe LSH", VLDB 2007): recall rises without rebucketing the
    * corpus — only the query side fans out, x(nBits+1) probe rows, all
    * still broadcast-sized, while the corpus keeps its single bucket per
    * vector. Probe buckets are distinct per query (distinct masks), so a
    * corpus vector is scored at most once — no dedup pass needed.
    */
  private def lshMpRes(s: SparkSession, dir: String, nBits: Int = LshBits): DataFrame = {
    val all = vecs(s, dir).withColumn("bucket", Similarity.lshBucket(col("v"), signs(nBits)))
    val q = broadcast(all.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"),
        explode(array(mpMasks(nBits).map(m => col("bucket").bitwiseXOR(lit(m))): _*)).as("bucket")))
    val c = all.select(col("vec_id").as("c_id"), col("v").as("c_v"), col("bucket"))
    val scored = q.join(c, Seq("bucket")).filter(col("q_id") =!= col("c_id"))
      .withColumn("cosine", Dedup.cosine(col("q_v"), col("c_v")))
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("c_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= K)
      .select("q_id", "rnk", "c_id", "cosine")
  }

  /** IVF ANN: a fixed-k k-means coarse quantizer
    * ([[Similarity.kmeansCentroids]] — bounded sample, seeded init, fixed
    * iterations) assigns every vector to its nearest cell; queries probe
    * their top-2 cells only. The quantizer broadcast is k rows and the
    * assignment crossJoin is O(N*k) — both independent of corpus growth,
    * unlike a sampled-centroid scheme whose centroid count (and thus the
    * assignment cost and broadcast size) scales with N.
    */
  /** Cell-assignment table: top-`maxProbe` cells per vector, materialized
    * once (localCheckpoint, not persist: the blocks release with the plan
    * instead of pinning the session cache across invocations). At scale
    * this IS the stored assignment table (`maxProbe` small rows per
    * vector — centroid vectors and scores dropped). One table serves
    * every probe depth ≤ `maxProbe`, so `sim_ann_recall`'s three IVF
    * legs share a single quantizer pass.
    */
  private def ivfRanked(s: SparkSession, dir: String, maxProbe: Int): DataFrame = {
    val all = vecs(s, dir)
    // k centroid rows driver-local; the top-maxProbe cell ranking is ONE
    // row-local codegen call + posexplode — no crossJoin blow-up, no
    // per-vec_id rank-window shuffle (VecKernels.ivfTopN replicates the
    // (ccos DESC, cent_id) row_number semantics bit-for-bit)
    val cents = Similarity.kmeansCentroids(all, IvfK, IvfSample, IvfIters, Dim, IvfSalt)
      .select("cent_id", "cv").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    all
      .select(col("vec_id"), col("v"),
        posexplode(graft.functions.IvfTopNExpr(col("v"),
          cents.map(_._2), cents.map(_._1), maxProbe)).as(Seq("p", "c")))
      .select(col("vec_id"), col("v"), col("c.cell").as("cent_id"),
        (col("p") + lit(1)).as("crn"), col("c.ccos").as("ccos"))
      .localCheckpoint(true)
  }

  /** Probe the top-`nProbe` cells of each query against the crn=1 cell
    * assignment. `ranked` must hold at least `nProbe` cells per vector.
    */
  private def ivfResFrom(ranked: DataFrame, nProbe: Int): DataFrame = {
    val assign = ranked.filter(col("crn") === 1)
      .select(col("vec_id").as("c_id"), col("cent_id").as("cell"), col("v").as("c_v"))
    val probes = ranked.filter(col("vec_id") < 5 && col("crn") <= nProbe)
      .select(col("vec_id").as("q_id"), col("cent_id").as("cell"), col("v").as("q_v"))
    val scored = broadcast(probes).join(assign, Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cosine", Dedup.cosine(col("q_v"), col("c_v")))
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("c_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= K)
      .select("q_id", "rnk", "c_id", "cosine")
  }

  private def ivfRes(s: SparkSession, dir: String, nProbe: Int = IvfProbe): DataFrame =
    ivfResFrom(ivfRanked(s, dir, nProbe), nProbe)

  /** Product-quantization ADC top-K (Jégou et al., "Product Quantization
    * for Nearest Neighbor Search", TPAMI 2011). Each subspace trains a
    * PqK-centroid codebook on the shared deterministic sample; every
    * corpus vector is ENCODED as PqM small codes (nearest sub-centroid,
    * the shared codegen cosine, ties -> cent_id); a query scores a
    * candidate WITHOUT touching its floats — asymmetric distance
    * computation sums the per-subspace dot(query_sub, codebook[code]),
    * a PqM-term lookup-table add. The 100 TB shape: the scored relation
    * is the CODES table (PqM bytes/vector vs Dim*4 — >20x smaller scan,
    * fits executor RAM), the LUT is Q x PqM x PqK broadcast rows, and
    * scoring is one broadcast-join pass over codes. The self-contained
    * driver query re-derives the codes from the embeddings per run (the
    * deployed form reads a stored codes table, like the *_idx probes).
    * Determinism: codebooks are the bit-exact Lloyd of kmeansCentroids
    * on 16-dim slices (the engine's spherical Lloyd); ENCODING minimizes
    * L2 — the ADC-consistent criterion — via the expanded fixed-order
    * form below; the ADC sum is a fixed-order 4-term add mirrored in
    * SQL; all ties break by cent_id on both engines.
    *
    * Returns the scored (q_id, vec_id, adc, n_informative-free) pair
    * frame; [[pqRes]] ranks it pure-ADC, [[pqRerankRes]] applies the
    * deployed two-stage shape (ADC shortlist of PqShortK, exact-cosine
    * rerank touching only shortlist floats). BASELINE.md records the
    * measured recall of both against the brute-force truth.
    */
  private def pqParts(s: SparkSession, dir: String): (DataFrame, Seq[DataFrame]) =
    pqPartsOf(vecs(s, dir))

  private def pqPartsOf(all: DataFrame): (DataFrame, Seq[DataFrame]) = {
    val cents = (0 until PqM).map { m =>
      val sub = all.select(col("vec_id"), slice(col("v"), m * PqSub + 1, PqSub).as("v"))
      Similarity.kmeansCentroids(sub, PqK, IvfSample, PqIters, PqSub, PqSalt)
    }
    // Encode by MIN L2 distance — the ADC-consistent criterion (the
    // expected |dot(q_m, v_m) - dot(q_m, c)| error is minimized by the
    // nearest centroid in L2, not by angular similarity). Expanded form
    // dot(v,v) - 2*dot(v,c) + dot(c,c) with the shared sequential fold,
    // identical arithmetic order in the oracle; ties -> cent_id.
    // row-local encode against the driver-collected codebooks — no
    // crossJoin blow-up, no per-vec_id rank window, no PqM-way join
    // chain (VecKernels.pqNearestCode replicates the expanded-L2 fold
    // order and (l2, cent_id) tie semantics bit-for-bit)
    val codesWide = all.select(
      col("vec_id") +: (0 until PqM).map { m =>
        val rows = cents(m).select("cent_id", "cv").collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
          .sortBy(_._1)
        graft.functions.PqNearestCodeExpr(col("v"),
          rows.map(_._2), rows.map(_._1), m * PqSub, PqSub).as(s"code$m")
      }: _*)
    // LUT: dots of each query's subvector against every sub-centroid —
    // Q x PqM x PqK rows total, each side of the scoring join broadcast
    val luts = (0 until PqM).map { m =>
      all.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), slice(col("v"), m * PqSub + 1, PqSub).as("qv"))
        .crossJoin(broadcast(cents(m)))
        .select(col("q_id"), col("cent_id").as(s"code$m"),
          Dedup.dot(col("qv"), col("cv")).as(s"d$m"))
    }
    (codesWide, luts)
  }

  private def pqScored(s: SparkSession, dir: String): DataFrame =
    pqScoredOf(vecs(s, dir))

  private def pqScoredOf(all: DataFrame): DataFrame = {
    val (codesWide, luts) = pqPartsOf(all)
    codesWide
      .join(broadcast(luts(0)), Seq("code0"))
      .join(broadcast(luts(1)), Seq("code1", "q_id"))
      .join(broadcast(luts(2)), Seq("code2", "q_id"))
      .join(broadcast(luts(3)), Seq("code3", "q_id"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("adc", col("d0") + col("d1") + col("d2") + col("d3"))
      .select("q_id", "vec_id", "adc")
  }

  private def pqResFrom(scored: DataFrame): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(col("adc").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= K)
      .select(col("q_id"), col("rnk"), col("vec_id").as("c_id"), col("adc"))
  }

  private def pqRes(s: SparkSession, dir: String): DataFrame =
    pqResFrom(pqScored(s, dir))

  /** The corpus's OPQ variance-balancing permutation — see
    * [[graft.operators.Similarity.opqPermutation]] (moved there so the
    * persisted index family can train and freeze the same artifact).
    */
  private def opqPermutation(s: SparkSession, dir: String): Seq[Int] =
    Similarity.opqPermutation(vecs(s, dir), Dim, PqM)

  /** The deployed PQ shape: ADC-shortlist PqShortK candidates from the
    * codes scan, then exact-cosine rerank reading ONLY the shortlist's
    * float vectors (Q x PqShortK rows — at 100 TB this is the entire
    * point: the full-precision embedding fetch is bounded by the
    * shortlist, never the corpus).
    */
  private def pqRerankRes(s: SparkSession, dir: String): DataFrame =
    rerankTopK(s, dir, pqScored(s, dir))

  /** ADC-shortlist `scored` (q_id, vec_id, adc) to PqShortK, then
    * exact-cosine rerank reading ONLY the shortlist's float vectors
    * (Q x PqShortK rows — at 100 TB this is the entire point: the
    * full-precision embedding fetch is bounded by the shortlist, never
    * the corpus).
    */
  private def rerankTopK(s: SparkSession, dir: String, scored: DataFrame): DataFrame = {
    val all = vecs(s, dir)
    val wS = Window.partitionBy("q_id").orderBy(col("adc").desc, col("vec_id"))
    val short = scored.withColumn("srn", row_number().over(wS))
      .filter(col("srn") <= PqShortK)
    val qv = broadcast(all.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("q_v")))
    val rr = short.join(all.select(col("vec_id"), col("v").as("c_v")), "vec_id")
      .join(qv, "q_id")
      .withColumn("cosine", Dedup.cosine(col("q_v"), col("c_v")))
    val wR = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("vec_id"))
    rr.withColumn("rnk", row_number().over(wR).cast("long"))
      .filter(col("rnk") <= K)
      .select(col("q_id"), col("rnk"), col("vec_id").as("c_id"), col("cosine"))
  }

  /** IVF+PQ — the two-level index every large-scale ANN service runs
    * (Jégou et al. 2011 §V; the Faiss "IVFx,PQy" layout): the IVF
    * coarse quantizer routes a query to its top-IvfProbe cells, ADC
    * scores ONLY the codes stored in those cells (cell-partitioned
    * codes table → partition pruning at scale; the scan is nProbe/IvfK
    * of the corpus, in 12-bit codes, not floats), and the exact-cosine
    * rerank touches PqShortK full vectors. Composes the two
    * independently oracle-proven layers: the cell routing of
    * sim_ann_ivf and the codebooks/encoding/ADC of sim_ann_pq —
    * candidate restriction commutes with ADC scoring, so the oracle
    * restricts the proven pq_scored relation to the proven cell-match
    * pairs.
    */
  private def ivfpqRes(s: SparkSession, dir: String): DataFrame = {
    val ranked = ivfRanked(s, dir, IvfProbe)
    val cells = ranked.filter(col("crn") === 1)
      .select(col("vec_id"), col("cent_id").as("cell"))
    val probes = ranked.filter(col("vec_id") < 5 && col("crn") <= IvfProbe)
      .select(col("vec_id").as("q_id"), col("cent_id").as("cell"))
    val (codesWide, luts) = pqParts(s, dir)
    // codes ⋈ cell assignment, then the broadcast probe fan-out keeps a
    // corpus code row only if its cell is probed by the query — exactly
    // one cell per corpus vector, distinct cells per query, so pairs
    // are unique and need no dedup
    val cand = codesWide.join(cells, "vec_id")
      .join(broadcast(probes), Seq("cell"))
      .filter(col("q_id") =!= col("vec_id"))
    val scored = (0 until PqM).foldLeft(cand) { (acc, m) =>
      acc.join(broadcast(luts(m)), Seq(s"code$m", "q_id"))
    }.withColumn("adc", col("d0") + col("d1") + col("d2") + col("d3"))
      .select("q_id", "vec_id", "adc")
    rerankTopK(s, dir, scored)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "sim_ann_brute" -> ((s, dir) => bruteRes(s, dir).orderBy("q_id", "rnk")),

    "sim_ann_ivf" -> ((s, dir) => ivfRes(s, dir).orderBy("q_id", "rnk")),

    "sim_ann_pq" -> ((s, dir) => pqRes(s, dir).orderBy("q_id", "rnk")),

    "sim_ann_pq_rerank" -> ((s, dir) => pqRerankRes(s, dir).orderBy("q_id", "rnk")),

    "sim_ann_ivfpq" -> ((s, dir) => ivfpqRes(s, dir).orderBy("q_id", "rnk")),

    // recall@K of the three PQ-code paths vs brute truth — the
    // compression side's counterpart to sim_ann_recall, making
    // BASELINE.md's compression↔recall table a driver-reproduced fact
    // instead of a hand measurement
    "sim_ann_pq_recall" -> ((s, dir) => {
      val truth = bruteRes(s, dir).select("q_id", "c_id").localCheckpoint(true)
      def recallOf(approx: DataFrame, method: String): DataFrame =
        truth.join(
            approx.select("q_id", "c_id").withColumn("hit", lit(1)),
            Seq("q_id", "c_id"), "left")
          .groupBy("q_id")
          .agg((sum(coalesce(col("hit"), lit(0))).cast("double") / lit(K)).as("recall"))
          .select(lit(method).as("method"), col("q_id"), col("recall"))
      // one codebook-train + encode pass serves both flat-PQ legs
      // (localCheckpoint, not persist — CacheHygieneSpec contract)
      val scored = pqScored(s, dir).localCheckpoint(true)
      recallOf(pqResFrom(scored), "pq")
        .unionByName(recallOf(rerankTopK(s, dir, scored), "pq_rerank"))
        .unionByName(recallOf(ivfpqRes(s, dir), "ivfpq"))
        .orderBy("method", "q_id")
    }),

    // OPQ arm for the compression↔recall table: PQ recall measured on
    // the variance-balanced dimension permutation (opqPermutation —
    // the Ge et al. CVPR'13 allocation objective as an oracle-exact
    // orthogonal transform) at the SAME code budget (PqM x log2(PqK)
    // bits, zero extra bytes scanned). Truth and the PQ leg both run
    // on the permuted corpus — a permutation is orthogonal, so the
    // true neighbor set is unchanged — making the recall delta vs
    // sim_ann_pq_recall's 'pq' row exactly the allocation effect.
    // BASELINE.md records the comparison: flat-ADC recall 0.040 →
    // 0.120 at the same 12-bit budget — the permutation TRIPLES
    // recall for zero extra bytes on this corpus (the measurement
    // moved 0.080 → 0.120 when the variance proxy landed on a single
    // 1e-4 grid). sim_ann_opq_idx deploys the same permutation as a
    // frozen artifact of the persisted PQ index.
    "sim_ann_opq_recall" -> ((s, dir) => {
      val perm = opqPermutation(s, dir)
      val pv = vecs(s, dir)
        .select(col("vec_id"),
          array(perm.map(i => element_at(col("v"), i)): _*).as("v"))
        .localCheckpoint(true) // feeds brute truth + codebooks + encode
      val truth = Similarity.bruteForceTopK(
        pv.filter(col("vec_id") < 5), pv, K).select("q_id", "c_id")
      val res = pqResFrom(pqScoredOf(pv))
      truth
        .join(res.select("q_id", "c_id").withColumn("hit", lit(1)),
          Seq("q_id", "c_id"), "left")
        .groupBy("q_id")
        .agg((sum(coalesce(col("hit"), lit(0))).cast("double") / lit(K)).as("recall"))
        .select(lit("opq").as("method"), col("q_id"), col("recall"))
        .orderBy("method", "q_id")
    }),

    "sim_ann_lsh" -> ((s, dir) => lshRes(s, dir).orderBy("q_id", "rnk")),

    "sim_ann_lsh_mp" -> ((s, dir) => lshMpRes(s, dir).orderBy("q_id", "rnk")),

    // k-NN GRAPH build: every corpus vector's top-KnnK neighbors — the
    // substrate of semantic clustering / SemDeDup-style curation and
    // HNSW-ish index construction, where the query set IS the corpus so
    // nothing is broadcast-sized. FIXED signature width, so the corpus
    // is first capped by [[knnSampleStride]]'s deterministic modulo
    // sample (stride 1 = the whole corpus at every driver test scale):
    // the registered plan's pair work is bounded by KnnSampleCap^2
    // regardless of N — a fixed-width graph over an unbounded corpus is
    // quadratic, and the registered surface must not carry one. The
    // scale-safe full-corpus form is sim_knn_graph_scaled below. The
    // stride is SURFACED as an output column so a consumer can see
    // when the graph covers a modulo sample rather than the full
    // corpus (stride 1 = full corpus, bit-identical to the uncapped
    // build) instead of silently receiving a partial graph.
    "sim_knn_graph" -> ((s, dir) => {
      val all = vecs(s, dir)
      val stride = knnSampleStride(all.count())
      knnGraphFrom(all.filter(col("vec_id") % stride === 0), LshBits)
        .withColumn("stride", lit(stride))
    }),

    // The SCALE-SAFE k-NN graph: signature width derived from the corpus
    // size (one count scan — cheap metadata next to the graph build) by
    // the [[knnScaledBits]] rule, holding per-bucket population ~B so the
    // bucket self-join stays linear as the corpus grows — the registered
    // form of the scaling rule sim_knn_graph's fixed width documents.
    // The oracle derives the same width with the same integer comparison
    // and masks a max-width bucket down to it (the md5-parity hyperplane
    // family is prefix-stable in nBits), so one static SQL text checks
    // every derived width.
    "sim_knn_graph_scaled" -> ((s, dir) => {
      val n = vecs(s, dir).count()
      knnGraphRes(s, dir, knnScaledBits(n))
    }),

    // BANDED k-NN graph — OR-amplification: KnnBands independent
    // derived-width signature tables; a pair is a candidate when ANY
    // band agrees (recall ≈ 1-(1-p^r)^b, cost × b, linear in N with
    // per-band population held at KnnBucketTarget). Cross-band
    // duplicate candidates are deduped before the per-source top-K.
    // See the KnnBands scaladoc + BASELINE.md for the measured
    // banding-vs-probing comparison and when each knob wins.
    "sim_knn_graph_banded" -> ((s, dir) => {
      val all = vecs(s, dir)
      val r = knnScaledBits(all.count())
      knnBandedTopK(all, r, lit(true)).orderBy("q_id", "rnk")
    }),

    // RECALL of the scaled-width k-NN graph against brute-force truth
    // over the vec_id < 5 query set — quantifying the width ↔ recall
    // trade the knnGraphRes scaladoc documents: narrower buckets (wider
    // signatures) keep the build linear but miss neighbors whose
    // signatures differ by >1 bit, and the Hamming-2 leg (h2) shows how
    // much one extra probe level buys back WITHOUT rebucketing — the
    // probe fan-out grows to 1 + w + C(w,2) masks, still only the
    // query side, never the corpus. Same recall@K shape as
    // sim_ann_recall, at the graph's K (KnnK) and derived width.
    "sim_knn_graph_recall" -> ((s, dir) => {
      val all = vecs(s, dir)
      val w = knnScaledBits(all.count())
      val truth = Similarity
        .bruteForceTopK(all.filter(col("vec_id") < 5), all, KnnK)
        .select("q_id", "c_id").localCheckpoint(true)
      def recallOf(edges: DataFrame, method: String): DataFrame =
        truth.join(edges.withColumn("hit", lit(1)), Seq("q_id", "c_id"), "left")
          .groupBy("q_id")
          .agg((sum(coalesce(col("hit"), lit(0))).cast("double") / lit(KnnK)).as("recall"))
          .select(lit(method).as("method"), col("q_id"), col("recall"))
      recallOf(knnEdgesFor(all, w, mpMasks(w)), "h1")
        .unionByName(recallOf(knnEdgesFor(all, w, mpMasks2(w)), "h2"))
        .unionByName(recallOf(
          knnBandedTopK(all, w, col("vec_id") < 5).select("q_id", "c_id"), "b4"))
        .orderBy("method", "q_id")
    }),

    // INDEX-HEALTH report: the LSH bucket-population distribution — the
    // number an ANN operator watches to decide when to re-bucket at a
    // wider nBits (max_pop bounds the worst probe's candidate count;
    // mean_pop ~ N/2^nBits is the design point). One map-side-combined
    // groupBy to 2^nBits rows, then a 1-row aggregate — no other
    // shuffle; same bucketing kernel the index writer runs, so this is
    // exactly the report `saveLsh` output would produce.
    "sim_ann_bucket_stats" -> ((s, dir) => {
      val pops = vecs(s, dir)
        .withColumn("bucket", Similarity.lshBucket(col("v"), signs(LshBits)))
        .groupBy("bucket").agg(count(lit(1)).as("pop"))
      pops.agg(
        sum("pop").cast("long").as("n_vecs"),
        count(lit(1)).cast("long").as("n_buckets"),
        max("pop").cast("long").as("max_pop"),
        (sum("pop").cast("double") / count(lit(1)).cast("double")).as("mean_pop"))
    }),

    // IVF INDEX-HEALTH report — the companion of sim_ann_bucket_stats
    // for the quantizer side, and the measurement behind AnnIndex
    // .upsertIvf's retrain guidance ("centroid retraining when the
    // corpus drifts is a rebuild"): per cell, its population share
    // (skew — a cell absorbing the corpus means the centroids no
    // longer span it) and the mean member→centroid cosine
    // (quantization quality — drifting embeddings pull it down; both
    // are exactly what triggers a scheduled retrain). The mean is
    // computed over 1e-9-quantized cosines summed as BIGINT so it is
    // order-independent and bit-reproducible in both engines — a
    // raw double AVG would be partition-order-dependent. One O(N*k)
    // assignment (the shared ivfRanked pass), one map-side-combined
    // k-row groupBy, a 1-row broadcast for the total.
    "ivf_cell_stats" -> ((s, dir) => {
      val ranked = ivfRanked(s, dir, 1).filter(col("crn") === 1)
      val qcos = floor(col("ccos") * lit(1.0e9)).cast("long")
      val cur = ranked.select(col("cent_id"), qcos.as("qcos"))
        .groupBy("cent_id")
        .agg(count(lit(1)).as("pop"), sum("qcos").as("sum_qcos"))
        .localCheckpoint(true) // total + final select both read it
      val tot = cur.agg(sum("pop").cast("long").as("total"))
      cur.crossJoin(broadcast(tot))
        .select(col("cent_id"), col("pop"),
          (col("pop").cast("double") / col("total").cast("double")).as("share"),
          (col("sum_qcos").cast("double") / col("pop").cast("double") / lit(1.0e9))
            .as("mean_ccos"))
        .orderBy("cent_id")
    }),

    // PQ CODEBOOK HEALTH: per-subspace code-population histogram — the
    // retrain trigger for the PQ layer, companion to ivf_cell_stats for
    // the coarse quantizer. A dead code (share ~0) wastes a codebook
    // slot; a dominant code (share -> 1) means the subspace carries no
    // information and ADC discrimination collapses there. One groupBy
    // per subspace over the codes relation (map-side combinable, PqM*PqK
    // output rows), total via a broadcast 1-row frame.
    "pq_code_stats" -> ((s, dir) => {
      val codes = pqParts(s, dir)._1.localCheckpoint(true) // feeds PqM groupBys + the total
      val tot = codes.agg(count(lit(1)).cast("long").as("total"))
      val stats = (0 until PqM).map { m =>
        codes.groupBy(col(s"code$m").as("code"))
          .agg(count(lit(1)).as("n_vecs"))
          .withColumn("m", lit(m.toLong))
      }.reduce(_ unionByName _)
      // left-join the counts onto the FULL PqM x PqK grid: a DEAD code
      // (population 0) is precisely what the retrain trigger watches
      // for — absent-row reporting would hide it. The code domain is
      // 1..PqK (codes are kmeansCentroids cent_ids, which number from
      // 1), so the grid must span 1..PqK — a 0-based grid would report
      // a phantom dead code 0 and drop code PqK's population.
      val grid = s.range(PqM).select(col("id").as("m"))
        .crossJoin(s.range(1, PqK + 1).select(col("id").as("code")))
      grid.join(stats, Seq("m", "code"), "left_outer")
        .crossJoin(broadcast(tot))
        .select(col("m"), col("code"),
          coalesce(col("n_vecs"), lit(0L)).as("n_vecs"),
          (coalesce(col("n_vecs"), lit(0L)).cast("double")
            / col("total").cast("double")).as("share"))
        .orderBy("m", "code")
    }),

    // EMBEDDING AUDIT: norm distribution + degenerate-vector counts —
    // the pre-indexing check of a vector pipeline (a zero-norm vector
    // makes cosine undefined; a wildly out-of-band norm flags a broken
    // encoder batch). Row-local sequential-fold norms (the shared
    // oracle-parity dot product), one aggregate, no shuffle.
    "embed_stats" -> ((s, dir) => {
      val n2 = Dedup.dot(col("v"), col("v"))
      vecs(s, dir)
        .select(sqrt(n2).as("nrm"))
        .agg(
          count(lit(1)).cast("long").as("n_vecs"),
          sum(when(col("nrm") === 0.0, 1L).otherwise(0L)).as("n_zero_norm"),
          min("nrm").as("min_norm"),
          max("nrm").as("max_norm"))
    }),

    // TOPIC-MIX reweighting — pipe_mix's domain-balance knob applied to
    // SEMANTIC clusters instead of crawl sources: every vector is
    // assigned to its k-means cell (the same fixed-k IVF quantizer, so
    // the oracle shares the Lloyd CTEs) and each cluster gets the
    // sampling weight that rebalances the corpus toward a uniform topic
    // mix. Scale shape: the O(N*k) assignment with a k-row broadcast
    // (WindowGroupLimit partial rank), a map-side-combined k-row
    // groupBy, and a 1-row broadcast for the total — no other shuffle.
    "pipe_topic_mix" -> ((s, dir) => {
      val assigned = ivfRanked(s, dir, 1).filter(col("crn") === 1)
      val cur = assigned.groupBy("cent_id")
        .agg(count(lit(1)).as("n_vecs"))
        .localCheckpoint(true) // total + final select both read it
      val tot = cur.agg(
        sum("n_vecs").cast("long").as("total"),
        count(lit(1)).cast("long").as("k"))
      val share = col("n_vecs").cast("double") / col("total").cast("double")
      val target = lit(1.0) / col("k").cast("double")
      cur.crossJoin(broadcast(tot))
        .select(col("cent_id"), col("n_vecs"),
          share.as("share"), (target / share).as("weight"))
        .orderBy("cent_id")
    }),

    // SEMANTIC decontamination — the embedding-space analog of
    // pipe_decontam: test-split vectors whose train-split neighbors
    // exceed a cosine threshold (an eval item paraphrased in training
    // data has no shared n-grams but a near-identical embedding). The
    // split reuses sample_split's salted md5 buckets on vec_id, and the
    // search is the multi-probe LSH shape: the corpus keeps one bucket
    // per vector, the test side (eval-set-sized, broadcastable) fans
    // out Hamming-1 probes, and the bucket equi-join never goes
    // all-pairs. Output per flagged test vector: train-neighbor count
    // and the worst (max) cosine — both order-independent aggregates.
    "sim_decontam" -> ((s, dir) => {
      val bucket = graft.functions.Md5Long60Expr(
        col("vec_id").cast("string"), PipelineQueries.SplitSalt) % lit(100L)
      val all = vecs(s, dir)
        .withColumn("split_bucket", bucket)
        .withColumn("bucket", Similarity.lshBucket(col("v"), signs(LshBits)))
      val train = all.filter(col("split_bucket") < PipelineQueries.TrainPct)
        .select(col("vec_id").as("train_id"), col("v").as("t_v"), col("bucket"))
      val test = broadcast(
        all.filter(col("split_bucket") >= PipelineQueries.TrainPct + PipelineQueries.ValPct)
          .select(col("vec_id").as("test_id"), col("v").as("q_v"),
            explode(array(mpMasks(LshBits).map(m =>
              col("bucket").bitwiseXOR(lit(m))): _*)).as("bucket")))
      test.join(train, Seq("bucket"))
        .withColumn("cosine", Dedup.cosine(col("q_v"), col("t_v")))
        .filter(col("cosine") >= DecontamCosine)
        .groupBy("test_id")
        .agg(count(lit(1)).as("n_train_neighbors"), max("cosine").as("max_cosine"))
        .orderBy("test_id")
    }),

    // The PERSISTED index path: build the LSH index on disk (bucketed
    // parquet under part = pmod(bucket, parts) directories — the
    // write-side form a 100 TB ANN service stores), then serve the
    // probe FROM the store, partition-pruned to the probed buckets.
    // Same results as sim_ann_lsh by construction, so the same oracle
    // checks the whole save -> load -> probe cycle. NOTE for bench
    // reading: the driver contract requires self-contained queries, so
    // every invocation REBUILDS the index into a scratch dir — the
    // bench number is build + probe, not the probe a deployed service
    // pays (BASELINE.md's round-7 and round-8 scaling probes show the
    // probe side flat as the corpus grows).
    "sim_ann_lsh_idx" -> ((s, dir) => {
      val idxDir = graft.sources.TempDirs.scratch("graft_lshidx_")
      graft.sources.AnnIndex.saveLsh(vecs(s, dir), LshBits, Dim, idxDir)
      val q = vecs(s, dir).filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("v").as("q_v"))
      graft.sources.AnnIndex.probeLsh(s, idxDir, q, K).orderBy("q_id", "rnk")
    }),

    // The INCREMENTALLY-MAINTAINED index path: build the LSH index on
    // a subset of the corpus, upsert the remainder as a later batch
    // (AnnIndex.upsertLsh — the touched directories only, replaced in
    // one Publish.replaceParts transaction; hash family frozen in the
    // stored meta), then
    // serve the probe from the store. By the upsert convergence
    // property (AnnIndexSpec) the maintained index is row-identical to
    // a full rebuild, so the sim_ann_lsh oracle checks the whole
    // build -> upsert -> probe cycle — the daily-crawl-append shape.
    "sim_ann_lsh_upsert" -> ((s, dir) => {
      val idxDir = graft.sources.TempDirs.scratch("graft_lshups_")
      val all = vecs(s, dir)
      graft.sources.AnnIndex.saveLsh(
        all.filter(col("vec_id") % 3 =!= 0), LshBits, Dim, idxDir)
      graft.sources.AnnIndex.upsertLsh(s, idxDir,
        all.filter(col("vec_id") % 3 === 0))
      val q = all.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("v").as("q_v"))
      graft.sources.AnnIndex.probeLsh(s, idxDir, q, K).orderBy("q_id", "rnk")
    }),

    // TAKEDOWN on the persisted LSH index
    // ([[graft.sources.AnnIndex.deleteLsh]]): build over the full
    // corpus, retract every 7th-shifted vector (vec_id % 7 = 6 — none
    // of the probe queries), then serve the probe from the store. The
    // retracted ids' rows are located by one column-pruned scan (the
    // bucket is content-derived, so touched dirs aren't computable
    // from ids alone), only those directories rewrite, vacated dirs
    // drop. Bucketing is row-local, so probe-after-delete must equal
    // the probe of an index BUILT without the retracted vectors — the
    // oracle runs the LSH pipeline over the reduced corpus, and a
    // retracted vector can never reappear as anyone's neighbor (the
    // embedding-side right-to-be-forgotten semantics).
    "sim_ann_lsh_delete" -> ((s, dir) => {
      val idxDir = graft.sources.TempDirs.scratch("graft_lshdel_")
      val all = vecs(s, dir)
      graft.sources.AnnIndex.saveLsh(all, LshBits, Dim, idxDir)
      graft.sources.AnnIndex.deleteLsh(s, idxDir,
        all.filter(col("vec_id") % 7 === 6).select("vec_id"))
      val q = all.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("v").as("q_v"))
      graft.sources.AnnIndex.probeLsh(s, idxDir, q, K).orderBy("q_id", "rnk")
    }),

    // Persisted IVF: centroids + cell-partitioned assignment on disk;
    // probes rank the stored k-row centroid table and read only the
    // probed cell directories. Oracle-identical to sim_ann_ivf.
    "sim_ann_ivf_idx" -> ((s, dir) => {
      val idxDir = graft.sources.TempDirs.scratch("graft_ivfidx_")
      graft.sources.AnnIndex.saveIvf(vecs(s, dir), IvfK, IvfSample, IvfIters,
        Dim, IvfSalt, idxDir)
      val q = vecs(s, dir).filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("v").as("q_v"))
      graft.sources.AnnIndex.probeIvf(s, idxDir, q, K, IvfProbe).orderBy("q_id", "rnk")
    }),

    // The LSH family's retrain analog — REBUCKETING: hyperplanes are
    // data-independent (nothing to re-fit), so LSH's drift dial is
    // per-bucket POPULATION (sim_ann_bucket_stats), and the response
    // is re-bucketing the live corpus at the knnScaledBits width.
    // Stage: index at LshBits; a crawl wave DOUBLES the corpus
    // (growthWave — rotated vectors, offset ids) through the
    // frozen-width upsert; the width rule FIRES (N outgrew
    // B·2^w — integer-exact, require-gated); rebucketLsh re-buckets
    // the index's own live rows at the derived width and swaps; the
    // probe runs at the new width. Oracle: the bucketed pipeline over
    // the union at the SQL-derived width — prefix-stable hyperplanes
    // let static SQL check any runtime width (the scaled-graph
    // discipline), hash-gating build -> upsert -> trigger -> rebucket
    // -> swap -> probe.
    "sim_ann_lsh_rebucket" -> ((s, dir) => {
      val idxDir = graft.sources.TempDirs.scratch("graft_lshrb_")
      val all = vecs(s, dir)
      graft.sources.AnnIndex.saveLsh(all, LshBits, Dim, idxDir)
      val (wave, _) = growthWave(all)
      graft.sources.AnnIndex.upsertLsh(s, idxDir, wave)
      val n = graft.sources.AnnIndex.lshCorpus(s, idxDir).count()
      require(n > (KnnBucketTarget.toLong << LshBits),
        s"width rule did not fire: n=$n at width $LshBits")
      graft.sources.AnnIndex.rebucketLsh(s, idxDir, knnScaledBits(n))
      val q = all.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("v").as("q_v"))
      graft.sources.AnnIndex.probeLsh(s, idxDir, q, K).orderBy("q_id", "rnk")
    }),

    // RETRAIN RESPONSE PATH — the lifecycle edge the health gauges
    // (ivf_cell_stats, AnnIndex.ivfDriftStats) exist to trigger. Stage:
    // the base corpus is indexed (January); a distribution-DRIFTED
    // crawl wave lands (July: every 3rd vector shifted into a new
    // concentrated domain cluster, fresh ids — driftWave) through the
    // frozen-quantizer upsert; the
    // stored-index drift gauge FIRES (the wave's mean own-centroid
    // cosine sits strictly below the base population's — enforced with
    // a require, the ccIngest requireConverged discipline, so a stage
    // where the trigger never fired cannot silently pass); retrainIvf
    // rebuilds the quantizer over the index's OWN live rows (in a real
    // deployment the original staging frame is long gone) offline and
    // swaps in two renames. Oracle: a fresh IVF build over the unioned
    // corpus — retrain-from-index is bit-exact against it, hash-gating
    // build -> upsert -> trigger -> retrain -> swap -> probe end to
    // end. BASELINE.md records the recall degraded->recovered receipt
    // and the measured retrain cost ("Round-14 quantizer-retrain
    // lifecycle receipt").
    "sim_ann_ivf_retrain" -> ((s, dir) => {
      val idxDir = graft.sources.TempDirs.scratch("graft_ivfrt_")
      val all = vecs(s, dir)
      graft.sources.AnnIndex.saveIvf(all, IvfK, IvfSample, IvfIters,
        Dim, IvfSalt, idxDir)
      val (drift, off) = driftWave(all)
      graft.sources.AnnIndex.upsertIvf(s, idxDir, drift)
      val gauge = graft.sources.AnnIndex
        .ivfDriftStats(s, idxDir, col("vec_id") >= off)
        .collect().map(r => r.getBoolean(0) -> r.getDouble(2)).toMap // 2 rows
      require(gauge(true) < gauge(false),
        s"drift gauge did not fire: wave mean_ccos ${gauge(true)} " +
          s"vs base ${gauge(false)}")
      graft.sources.AnnIndex.retrainIvf(s, idxDir, IvfK, IvfSample, IvfIters,
        Dim, IvfSalt)
      val q = all.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("v").as("q_v"))
      graft.sources.AnnIndex.probeIvf(s, idxDir, q, K, IvfProbe).orderBy("q_id", "rnk")
    }),

    // The PQ arm of the retrain lifecycle: same staged drift, but the
    // degraded artifact is the CODEBOOKS — the frozen subspace
    // centroids quantize the shifted wave badly (pqDriftStats joins the
    // codes table back to the embedding store, since a PQ index holds
    // no floats) — and the response re-fits all PqM codebooks over the
    // live id set and bulk RE-ENCODES every live vector (the 100 TB
    // line item BASELINE.md's "Round-14 quantizer-retrain lifecycle
    // receipt" prices) before the swap. The stored
    // OPQ permutation would be preserved; this index has none. Oracle:
    // one-shot PQ ADC over the drifted union — hash-gating
    // train -> bulk -> append -> trigger -> retrain -> re-encode ->
    // swap -> probe.
    // The COMPOSED index's retrain — both quantizers re-fit in one
    // pass (coarse routing is what a drifted wave degrades first: the
    // ivfpqDriftStats gauge scores each live row against its own
    // ROUTING centroid straight off the cell-partitioned codes table),
    // every live vector re-routed and re-encoded, swap, probe with the
    // two-level ADC + rerank. Oracle: one-shot IVF+PQ over the drifted
    // union — the full IVFx,PQy lifecycle (train -> bulk -> append ->
    // trigger -> retrain both -> re-encode -> swap -> route -> prune ->
    // ADC -> rerank) hash-gated end to end.
    "sim_ann_ivfpq_retrain" -> ((s, dir) => {
      val idxDir = graft.sources.TempDirs.scratch("graft_ivfpqrt_")
      // checkpoint once: train/bulk/drift/gauge/retrain/probe are six
      // consuming lineages — without it each re-reads and re-derives
      // the staged corpus (the round-15 driver bench charged the
      // re-derivation ~6x on the most expensive query class)
      val all = vecs(s, dir).localCheckpoint(true)
      graft.sources.AnnIndex.trainIvfPq(all, IvfK, IvfSample, IvfIters, Dim,
        IvfSalt, PqM, PqSub, PqK, PqSalt, idxDir)
      graft.sources.AnnIndex.upsertIvfPq(s, idxDir, all) // bulk load
      val (drift, off) = driftWave(all)
      graft.sources.AnnIndex.upsertIvfPq(s, idxDir, drift)
      // gauge + retrain + probe all read the drifted union
      val store = all.unionByName(drift).localCheckpoint(true)
      val gauge = graft.sources.AnnIndex
        .ivfpqDriftStats(s, idxDir, store, col("vec_id") >= off)
        .collect().map(r => r.getBoolean(0) -> r.getDouble(2)).toMap // 2 rows
      require(gauge(true) < gauge(false),
        s"IVFPQ drift gauge did not fire: wave mean_ccos ${gauge(true)} " +
          s"vs base ${gauge(false)}")
      graft.sources.AnnIndex.retrainIvfPq(s, idxDir, store, IvfK, IvfSample,
        IvfIters, Dim, IvfSalt, PqSalt)
      val q = all.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("v").as("q_v"))
      graft.sources.AnnIndex.probeIvfPq(s, idxDir, q, store, K, IvfProbe,
        PqM, PqSub, PqShortK).orderBy("q_id", "rnk")
    }),

    "sim_ann_pq_retrain" -> ((s, dir) => {
      val idxDir = graft.sources.TempDirs.scratch("graft_pqrt_")
      // same checkpoint-once discipline as sim_ann_ivfpq_retrain
      val all = vecs(s, dir).localCheckpoint(true)
      graft.sources.AnnIndex.trainPq(all, PqM, PqSub, PqK, IvfSample,
        PqIters, PqSalt, idxDir)
      graft.sources.AnnIndex.upsertPq(s, idxDir, all) // bulk load
      val (drift, off) = driftWave(all)
      graft.sources.AnnIndex.upsertPq(s, idxDir, drift)
      val store = all.unionByName(drift).localCheckpoint(true)
      val gauge = graft.sources.AnnIndex
        .pqDriftStats(s, idxDir, store, col("vec_id") >= off)
        .collect().map(r => r.getBoolean(0) -> r.getDouble(2)).toMap // 2 rows
      require(gauge(true) < gauge(false),
        s"PQ drift gauge did not fire: wave mean_ccos ${gauge(true)} " +
          s"vs base ${gauge(false)}")
      graft.sources.AnnIndex.retrainPq(s, idxDir, store, IvfSample,
        PqIters, PqSalt)
      val q = all.filter(col("vec_id") < 5)
      graft.sources.AnnIndex.probePq(s, idxDir, q, K, PqM, PqSub)
        .orderBy("q_id", "rnk")
    }),

    // OPQ PERM-DRIFT GAUGE — the health report for the one frozen
    // artifact the PQ retrain deliberately preserves: the permutation
    // was fit to balance per-subspace variance over the BASE corpus
    // (Ge et al.'s data-dependent objective), so a drift wave that
    // reorders per-dimension variances silently invalidates the
    // allocation even while codebooks re-fit cleanly. Stage:
    // perm-trained PQ index, bulk load, drifted upsert; reading =
    // per-subspace variance mass in the index's PERMUTED space over
    // the live set (integer-grid scores summed as DECIMAL(38,0) —
    // order-independent, engine-exact). The max/min ratio is the
    // dial; the response is retrainPq(refitPerm = true), spec-pinned
    // in AnnIndexSpec (re-balance + bit-exact vs the fresh permuted
    // build). Oracle: the snake-deal assignment replayed from the
    // base-corpus scores + the union's per-dim scores re-aggregated
    // per assigned subspace.
    //
    // COMPARE SURFACE = the policy's DECISION DIAL in BIGINT, not the
    // raw DECIMAL(38,0) masses: r16's driver artifact recorded a
    // hash_match=false on this query that two idle re-runs adjudicated
    // as a DuckDB-under-load value flake on the wide-decimal compare
    // (Spark output bit-identical both times). What the refit policy
    // actually reads is each subspace's share of the max and the
    // max/min ratio, both exact integer quotients of exact integer
    // sums — fold to those (IntegralDivide on DECIMAL is the exact
    // quotient on both engines, floor == truncate on nonnegative
    // scores), so a single-shot checker compares three BIGINTs per
    // row. The raw masses stay available via
    // [[graft.sources.AnnIndex.opqSubspaceVarStats]] (spec-pinned).
    "sim_ann_opq_drift" -> ((s, dir) => {
      val idxDir = graft.sources.TempDirs.scratch("graft_opqdrift_")
      // checkpoint-once: perm fit, train, bulk load, drift derivation
      // and the variance gauge all consume this staged corpus
      val all = vecs(s, dir).localCheckpoint(true)
      val perm = Similarity.opqPermutation(all, Dim, PqM)
      graft.sources.AnnIndex.trainPq(all, PqM, PqSub, PqK, IvfSample,
        PqIters, PqSalt, idxDir, perm = perm)
      graft.sources.AnnIndex.upsertPq(s, idxDir, all) // bulk load
      val (drift, _) = driftWave(all)
      graft.sources.AnnIndex.upsertPq(s, idxDir, drift)
      val scored = graft.sources.AnnIndex
        .opqSubspaceVarStats(s, idxDir, all.unionByName(drift))
      // 1-row extremes broadcast onto the m subspace rows — no
      // unpartitioned window enters the registered plan
      val ext = scored.agg(max(col("var_score")).as("max_var"),
        min(col("var_score")).as("min_var"))
      // DIVIDE-FIRST dials: `var_score * 1000` on DECIMAL(38,0) caps at
      // precision 38 (null/ANSI-error past ~1e35) while the DuckDB twin
      // runs on HUGEINT (~1.7e38) — a narrow magnitude band where the
      // engines would diverge instead of both failing. Dividing the
      // EXTREME first keeps every intermediate <= max_var: permille's
      // quotient is <= ~1001 by construction, and the unbounded ratio
      // dial saturates at 1e15 (any policy threshold sits orders of
      // magnitude below) so the BIGINT cast can never overflow.
      val one38 = "CAST(1 AS DECIMAL(38,0))"
      scored.crossJoin(broadcast(ext))
        .select(col("subspace"), col("n_dims"),
          expr(s"CAST(var_score DIV greatest(max_var DIV 1000, $one38) AS BIGINT)")
            .as("permille_of_max"),
          expr("CAST(least(max_var DIV greatest(min_var DIV 100, " +
            s"$one38), CAST(1000000000000000 AS DECIMAL(38,0))) AS BIGINT)")
            .as("ratio_pct"))
        .orderBy("subspace")
    }),

    // Persisted IVF+PQ: the full two-level storage layout — codes table
    // PARTITIONED BY CELL on disk, so the probe's routing is literal
    // parquet partition pruning (AnnIndexSpec pins PartitionFilters in
    // the probe plan); ADC inside the pruned cells, rerank from the
    // embedding store. Oracle-identical to sim_ann_ivfpq, hash-gating
    // the save -> route -> prune -> ADC -> rerank cycle end to end.
    "sim_ann_ivfpq_idx" -> ((s, dir) => {
      val idxDir = graft.sources.TempDirs.scratch("graft_ivfpqidx_")
      val all = vecs(s, dir)
      graft.sources.AnnIndex.saveIvfPq(all, IvfK, IvfSample, IvfIters, Dim,
        IvfSalt, PqM, PqSub, PqK, PqSalt, idxDir)
      val q = all.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("v").as("q_v"))
      graft.sources.AnnIndex.probeIvfPq(s, idxDir, q, all, K, IvfProbe,
        PqM, PqSub, PqShortK).orderBy("q_id", "rnk")
    }),

    // Persisted PQ: per-subspace codebooks + the corpus CODES table on
    // disk (PqM small ints per vector — the >20x-compressed relation a
    // deployed ANN service scans). The probe is pure ADC from storage:
    // broadcast Q x PqK lookup tables onto one codes pass, zero
    // embedding floats read. Oracle-identical to sim_ann_pq, so the
    // save -> load -> probe cycle is hash-gated end to end.
    "sim_ann_pq_idx" -> ((s, dir) => {
      val idxDir = graft.sources.TempDirs.scratch("graft_pqidx_")
      graft.sources.AnnIndex.savePq(vecs(s, dir), PqM, PqSub, PqK, IvfSample,
        PqIters, PqSalt, idxDir)
      val q = vecs(s, dir).filter(col("vec_id") < 5)
      graft.sources.AnnIndex.probePq(s, idxDir, q, K, PqM, PqSub)
        .orderBy("q_id", "rnk")
    }),

    // The INCREMENTALLY-MAINTAINED PQ index — the last rebuild-only
    // index family made maintainable: train the codebooks ONCE on the
    // corpus snapshot (trainPq — the frozen quantizer artifact), then
    // bulk-load 2/3 of the corpus and append the remaining third as a
    // later batch through the SAME upsertPq path (encode-only against
    // the stored codebooks; the touched part = pmod(vec_id, parts)
    // directories replaced in one Publish.replaceParts transaction).
    // Because every code derives from the stored codebooks, the
    // maintained codes table is row-identical to a one-shot savePq
    // build — so the sim_ann_pq oracle hash-gates the whole train ->
    // load -> append -> probe cycle, the daily-crawl-append shape for
    // the compressed index.
    // pq_code_stats is the retrain trigger when drift makes the frozen
    // codebooks stale.
    "sim_ann_pq_upsert" -> ((s, dir) => {
      val idxDir = graft.sources.TempDirs.scratch("graft_pqups_")
      val all = vecs(s, dir)
      graft.sources.AnnIndex.trainPq(all, PqM, PqSub, PqK, IvfSample,
        PqIters, PqSalt, idxDir)
      graft.sources.AnnIndex.upsertPq(s, idxDir, all.filter(col("vec_id") % 3 =!= 0))
      graft.sources.AnnIndex.upsertPq(s, idxDir, all.filter(col("vec_id") % 3 === 0))
      val q = all.filter(col("vec_id") < 5)
      graft.sources.AnnIndex.probePq(s, idxDir, q, K, PqM, PqSub)
        .orderBy("q_id", "rnk")
    }),

    // The DEPLOYED OPQ index — sim_ann_opq_recall's measured 3x
    // flat-ADC recall lift (0.040 -> 0.120 at the same 12-bit budget,
    // BASELINE.md) frozen into the persisted PQ index instead of a
    // measurement arm: trainPq stores the variance-balanced permutation
    // under dir/perm as a third artifact next to the codebooks and
    // trains the codebooks in the permuted space; both upsertPq encodes
    // and the probePq LUT build then apply the STORED permutation
    // transparently (callers keep passing raw vectors — the permutation
    // is index-internal, exactly like the codebooks). Identical bytes
    // scanned: the codes relation is still PqM small ints per vector,
    // so the recall lift is free at probe time. Hash-gated like
    // sim_ann_pq_idx: the oracle rebuilds the same permutation in SQL,
    // binds the permuted corpus to the `vecs` CTE, and runs the shared
    // PQ machinery — gating train -> freeze -> bulk-load -> append ->
    // probe end to end (the staging is the sim_ann_pq_upsert split, so
    // the maintained path is what carries the permutation).
    "sim_ann_opq_idx" -> ((s, dir) => {
      val idxDir = graft.sources.TempDirs.scratch("graft_opqidx_")
      val all = vecs(s, dir)
      graft.sources.AnnIndex.trainPq(all, PqM, PqSub, PqK, IvfSample,
        PqIters, PqSalt, idxDir, perm = opqPermutation(s, dir))
      graft.sources.AnnIndex.upsertPq(s, idxDir, all.filter(col("vec_id") % 3 =!= 0))
      graft.sources.AnnIndex.upsertPq(s, idxDir, all.filter(col("vec_id") % 3 === 0))
      val q = all.filter(col("vec_id") < 5)
      graft.sources.AnnIndex.probePq(s, idxDir, q, K, PqM, PqSub)
        .orderBy("q_id", "rnk")
    }),

    // OPQ through the TWO-LEVEL persisted index: the same frozen
    // permutation artifact deployed under IVF+PQ — both quantizers
    // train in the permuted space, upserts encode through it, and the
    // probe routes/ADCs/reranks in it (the rerank's dot runs in the
    // permuted dimension order so the value — permutation-invariant
    // mathematically — also hashes bit-for-bit against the
    // permuted-corpus oracle; fp addition isn't associative). Gated
    // end to end like sim_ann_opq_idx, completing the OPQ deployment
    // across both compressed-index layouts.
    "sim_ann_opq_ivfpq_idx" -> ((s, dir) => {
      val idxDir = graft.sources.TempDirs.scratch("graft_opqivfpq_")
      val all = vecs(s, dir)
      graft.sources.AnnIndex.trainIvfPq(all, IvfK, IvfSample, IvfIters, Dim,
        IvfSalt, PqM, PqSub, PqK, PqSalt, idxDir, perm = opqPermutation(s, dir))
      graft.sources.AnnIndex.upsertIvfPq(s, idxDir, all.filter(col("vec_id") % 3 =!= 0))
      graft.sources.AnnIndex.upsertIvfPq(s, idxDir, all.filter(col("vec_id") % 3 === 0))
      val q = all.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("v").as("q_v"))
      graft.sources.AnnIndex.probeIvfPq(s, idxDir, q, all, K, IvfProbe,
        PqM, PqSub, PqShortK).orderBy("q_id", "rnk")
    }),

    // The maintained TWO-LEVEL index: both quantizers trained once
    // (trainIvfPq), the codes table bulk-loaded and appended through
    // upsertIvfPq — frozen centroids route each batch to its cell
    // directories (a content-derived key, so the rewrite covers both
    // sides of any vec_id move and drops emptied cells), frozen
    // codebooks encode it. Converges to the one-shot saveIvfPq build,
    // so the sim_ann_ivfpq oracle hash-gates
    // train -> load -> append -> route -> prune -> ADC -> rerank.
    "sim_ann_ivfpq_upsert" -> ((s, dir) => {
      val idxDir = graft.sources.TempDirs.scratch("graft_ivfpqups_")
      val all = vecs(s, dir)
      graft.sources.AnnIndex.trainIvfPq(all, IvfK, IvfSample, IvfIters, Dim,
        IvfSalt, PqM, PqSub, PqK, PqSalt, idxDir)
      graft.sources.AnnIndex.upsertIvfPq(s, idxDir, all.filter(col("vec_id") % 3 =!= 0))
      graft.sources.AnnIndex.upsertIvfPq(s, idxDir, all.filter(col("vec_id") % 3 === 0))
      val q = all.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("v").as("q_v"))
      graft.sources.AnnIndex.probeIvfPq(s, idxDir, q, all, K, IvfProbe,
        PqM, PqSub, PqShortK).orderBy("q_id", "rnk")
    }),

    // Symmetric int8 embedding quantization with reconstruction-quality
    // report — the 4x memory/bandwidth knob of a 100 TB vector corpus
    // (store int8 + one scale per vector; dequantize on read). Per
    // vector: scale = maxAbs/127, dq = dequant(quantize(v)), and the
    // two numbers an operator actually checks before flipping the
    // switch: cosine(v, dq) (how much ANN ranking can drift) and the
    // max absolute reconstruction error (bounded by scale/2). All four
    // stats are one-pass codegen kernels — row-local, linear scan, no
    // shuffle except the output sort.
    "embed_quant" -> ((s, dir) => {
      val v = col("v")
      val dq = Dedup.int8Dequant(v)
      vecs(s, dir)
        .select(
          col("vec_id"),
          Dedup.quantScale(v).as("scale"),
          Dedup.cosine(v, dq).as("recon_cosine"),
          Dedup.maxAbsDiff(v, dq).as("max_abs_err"))
        .orderBy("vec_id")
    }),

    // End-to-end quality impact of int8 quantization on ANN: recall@K
    // of exact search over DEQUANTIZED vectors against full-precision
    // brute truth — the one number that says whether the embed_quant 4x
    // memory saving is free at this corpus's geometry. (Tie-breaks on
    // near-equal cosines make this sensitive exactly where quantization
    // hurts: rank boundaries.)
    "sim_ann_quant" -> ((s, dir) => {
      val truth = bruteRes(s, dir).select("q_id", "c_id")
      val dq = vecs(s, dir)
        .withColumn("v", Dedup.int8Dequant(col("v")))
      val approx = Similarity.bruteForceTopK(dq.filter(col("vec_id") < 5), dq, K)
      truth.join(
          approx.select("q_id", "c_id").withColumn("hit", lit(1)),
          Seq("q_id", "c_id"), "left")
        .groupBy("q_id")
        .agg((sum(coalesce(col("hit"), lit(0))).cast("double") / lit(K)).as("recall"))
        .select(lit("brute_int8").as("method"), col("q_id"), col("recall"))
        .orderBy("q_id")
    }),

    // recall@K per query: |approx ∩ truth| / K against brute-force truth,
    // for each approximate method. Exactly what an operator watches when
    // tuning nBits (lsh) or k / nProbe (ivf) at scale — so the IVF leg
    // is measured at nProbe ∈ {1, 2, 4} (one shared quantizer pass; the
    // probe depth only changes which stored cells a query searches).
    "sim_ann_recall" -> ((s, dir) => {
      // materialized once: five recall legs each join against the truth
      // set — recomputing the brute-force pass per leg would be five
      // corpus scans for a K x |queries|-row frame
      val truth = bruteRes(s, dir).select("q_id", "c_id").localCheckpoint(true)
      def recallOf(approx: DataFrame, method: String): DataFrame =
        truth.join(
            approx.select("q_id", "c_id").withColumn("hit", lit(1)),
            Seq("q_id", "c_id"), "left")
          .groupBy("q_id")
          .agg((sum(coalesce(col("hit"), lit(0))).cast("double") / lit(K)).as("recall"))
          .select(lit(method).as("method"), col("q_id"), col("recall"))
      val ranked = ivfRanked(s, dir, maxProbe = 4)
      recallOf(lshRes(s, dir), "lsh")
        .unionByName(recallOf(lshMpRes(s, dir), "lsh_mp"))
        .unionByName(recallOf(ivfResFrom(ranked, 1), "ivf_p1"))
        .unionByName(recallOf(ivfResFrom(ranked, IvfProbe), "ivf"))
        .unionByName(recallOf(ivfResFrom(ranked, 4), "ivf_p4"))
        .orderBy("method", "q_id")
    })
  )

  // ---------------------------------------------------------------- oracle

  private val dotSql: (String, String) => String = (a, b) =>
    s"list_aggregate(list_transform(list_zip($a, $b), s -> s[1] * s[2]), 'sum')"

  private def cosineSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"

  /** Bucket expression mirroring [[Similarity.lshBucket]] at width
    * `nBits`: literal ±1 signs folded through the identical sequential
    * dot product. The md5-parity hyperplane family is PREFIX-STABLE —
    * plane p's signs depend only on (p, d) — so a width-w bucket equals
    * the width-W bucket masked to its low w bits; the scaled oracle
    * exploits that to check a runtime-derived width with static SQL.
    */
  private def bucketSqlAt(v: String, nBits: Int): String =
    signs(nBits).zipWithIndex.map { case (row, p) =>
      val arr = row.map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
      s"(CASE WHEN ${dotSql(v, s"CAST($arr AS DOUBLE[])")} >= 0.0 THEN CAST(${1L << p} AS BIGINT) ELSE 0 END)"
    }.mkString("\n    + ")

  private def bucketSql(v: String): String = bucketSqlAt(v, LshBits)

  private val vecsCte =
    """vecs AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |)""".stripMargin

  /** The OPQ-permuted corpus bound to the CTE name `vecs`, so the
    * shared brute/PQ machinery runs on it verbatim; mirrors
    * [[graft.operators.Similarity.opqPermutation]] bit-exactly
    * (1e-4-grid integer variance scores, score-desc/dim-asc rank,
    * snake deal into subspaces). Shared by sim_ann_opq_recall (the
    * measurement arm) and sim_ann_opq_idx (the deployed index).
    */
  private lazy val opqVecsCtes =
    s"""vecs_raw AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |), opq_sc AS (
       |  SELECT d.d,
       |    CAST(COUNT(*) AS BIGINT)
       |      * CAST(SUM(CAST(FLOOR(r.v[d.d] * 10000.0) AS BIGINT)
       |                  * CAST(FLOOR(r.v[d.d] * 10000.0) AS BIGINT)) AS BIGINT)
       |    - CAST(SUM(CAST(FLOOR(r.v[d.d] * 10000.0) AS BIGINT)) AS BIGINT)
       |      * CAST(SUM(CAST(FLOOR(r.v[d.d] * 10000.0) AS BIGINT)) AS BIGINT) AS score
       |  FROM vecs_raw r
       |  CROSS JOIN (SELECT UNNEST(generate_series(1, $Dim)) AS d) d
       |  GROUP BY d.d
       |), opq_rk AS (
       |  SELECT d, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, d ASC) - 1 AS BIGINT) AS rk
       |  FROM opq_sc
       |), opq_perm AS (
       |  SELECT list(d ORDER BY tpos) AS p FROM (
       |    SELECT d,
       |      (CASE WHEN (rk // $PqM) % 2 = 0 THEN rk % $PqM
       |            ELSE ${PqM - 1} - rk % $PqM END) * $PqSub + rk // $PqM AS tpos
       |    FROM opq_rk
       |  ) t
       |), vecs AS (
       |  SELECT r.vec_id,
       |    list_transform((SELECT p FROM opq_perm), i -> r.v[i]) AS v
       |  FROM vecs_raw r
       |)""".stripMargin

  /** knn_w (the derived per-band width) + kb_banded (one bucket per
    * vector per band). The plane-bit list is emitted ONCE at the
    * maximal width (KnnBands * KnnMaxBits planes); band i at runtime
    * width w reads bits [i*w, (i+1)*w) — prefix-stable family, so one
    * static SQL text serves every derived width, like the scaled graph
    * oracle's modulo mask.
    */
  private lazy val bandedCtes = {
    val allSigns = Similarity.signMatrix(KnnBands * KnnMaxBits, Dim)
    val bitsList = allSigns.map { row =>
      val arr = row.map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
      s"(CASE WHEN ${dotSql("v", s"CAST($arr AS DOUBLE[])")} >= 0.0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString("[", ",\n    ", "]")
    s"""knn_w AS (
       |  SELECT CAST(COALESCE(MIN(w), $KnnMaxBits) AS BIGINT) AS w
       |  FROM (SELECT UNNEST(generate_series($LshBits, $KnnMaxBits)) AS w) ws
       |  WHERE $KnnBucketTarget * (CAST(1 AS BIGINT) << w) >= (SELECT COUNT(*) FROM vecs)
       |), kb_bits AS (
       |  SELECT vec_id, v, $bitsList AS bits FROM vecs
       |), kb_banded AS (
       |  SELECT p.vec_id, p.v, b.band,
       |    list_aggregate(list_transform(generate_series(0, k.w - 1),
       |      j -> bits[b.band * k.w + j + 1] * (CAST(1 AS BIGINT) << j)), 'sum') AS bucket
       |  FROM kb_bits p CROSS JOIN knn_w k
       |  CROSS JOIN (SELECT UNNEST(generate_series(0, ${KnnBands - 1})) AS band) b
       |)""".stripMargin
  }

  /** brute_res(q_id, c_id, cosine, rnk): exact top-K per query. */
  private val bruteCtes =
    s"""b_scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |         ${cosineSql("q.v", "c.v")} AS cosine
       |  FROM vecs q JOIN vecs c ON q.vec_id < 5 AND q.vec_id != c.vec_id
       |), brute_res AS (
       |  SELECT q_id, rnk, c_id, cosine FROM (
       |    SELECT q_id, c_id, cosine,
       |           CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS BIGINT) AS rnk
       |    FROM b_scored
       |  ) t WHERE rnk <= $K
       |)""".stripMargin

  /** lsh_res(q_id, c_id, cosine, rnk): bucketed top-K per query. */
  private lazy val lshCtes =
    s"""bucketed AS (
       |  SELECT vec_id, v,
       |    ${bucketSql("v")} AS bucket
       |  FROM vecs
       |), l_scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |         ${cosineSql("q.v", "c.v")} AS cosine
       |  FROM bucketed q JOIN bucketed c ON q.bucket = c.bucket
       |  WHERE q.vec_id < 5 AND q.vec_id != c.vec_id
       |), lsh_res AS (
       |  SELECT q_id, rnk, c_id, cosine FROM (
       |    SELECT q_id, c_id, cosine,
       |           CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS BIGINT) AS rnk
       |    FROM l_scored
       |  ) t WHERE rnk <= $K
       |)""".stripMargin

  /** lsh_mp_res(q_id, c_id, cosine, rnk): multi-probe (Hamming-1) top-K.
    * The probe fan-out is the query side cross-joined with the XOR mask
    * list — identical masks, identical xor, identical re-rank.
    */
  private lazy val lshMpCtes = {
    val maskList = mpMasks(LshBits).map(m => s"CAST($m AS BIGINT)").mkString("[", ", ", "]")
    s"""mp_probes AS (
       |  SELECT vec_id AS q_id, v AS q_v, xor(bucket, m.mask) AS bucket
       |  FROM bucketed CROSS JOIN (SELECT UNNEST($maskList) AS mask) m
       |  WHERE vec_id < 5
       |), mp_scored AS (
       |  SELECT q.q_id, c.vec_id AS c_id,
       |         ${cosineSql("q.q_v", "c.v")} AS cosine
       |  FROM mp_probes q JOIN bucketed c USING (bucket)
       |  WHERE q.q_id != c.vec_id
       |), lsh_mp_res AS (
       |  SELECT q_id, rnk, c_id, cosine FROM (
       |    SELECT q_id, c_id, cosine,
       |           CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS BIGINT) AS rnk
       |    FROM mp_scored
       |  ) t WHERE rnk <= $K
       |)""".stripMargin
  }

  /** One Lloyd round: assign `samp` to `prevC`, mean members per cell.
    * The mean divides the ascending-vec_id sequential coordinate sum by
    * the member count — the IEEE op sequence the Spark side replays with
    * sort_array + aggregate (see [[Similarity.kmeansCentroids]]).
    */
  private def lloydCtes(i: Int, sampCte: String, prevC: String,
                        prefix: String = "ivf", dim: Int = Dim): String =
    s"""${prefix}_a$i AS (
       |  SELECT s.vec_id, s.v, c.cent_id,
       |         ROW_NUMBER() OVER (PARTITION BY s.vec_id
       |                            ORDER BY ${cosineSql("s.v", "c.cv")} DESC, c.cent_id) AS rn
       |  FROM $sampCte s CROSS JOIN $prevC c
       |), ${prefix}_c$i AS (
       |  SELECT cent_id,
       |         list_transform(generate_series(1, $dim), j ->
       |           list_aggregate(list_transform(ms, m -> m[j]), 'sum') / len(ms)) AS cv
       |  FROM (
       |    SELECT cent_id, list(v ORDER BY vec_id) AS ms
       |    FROM ${prefix}_a$i WHERE rn = 1 GROUP BY cent_id
       |  ) g
       |)""".stripMargin

  /** Shared IVF base: sample, Lloyd rounds, full cell ranking, crn=1
    * assignment. Probe-depth-specific CTEs layer on top via
    * [[ivfResCtes]].
    */
  private lazy val ivfBaseCtes = {
    val hashSql =
      s"CAST(concat('0x', substr(md5(concat('$IvfSalt:', CAST(vec_id AS VARCHAR))), 1, 15)) AS BIGINT)"
    val lloyd = (1 to IvfIters).map(i =>
      lloydCtes(i, "ivf_samp", s"ivf_c${i - 1}")).mkString(", ")
    s"""ivf_samp AS (
       |  SELECT vec_id, v, $hashSql AS h FROM vecs
       |  ORDER BY h, vec_id LIMIT $IvfSample
       |), ivf_c0 AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY h, vec_id) AS BIGINT) AS cent_id, v AS cv
       |  FROM (SELECT * FROM ivf_samp ORDER BY h, vec_id LIMIT $IvfK) s
       |), $lloyd, ivf_ranked AS (
       |  SELECT a.vec_id, a.v, c.cent_id,
       |         ROW_NUMBER() OVER (PARTITION BY a.vec_id
       |                            ORDER BY ${cosineSql("a.v", "c.cv")} DESC, c.cent_id) AS crn
       |  FROM vecs a CROSS JOIN ivf_c$IvfIters c
       |), ivf_assign AS (
       |  SELECT vec_id AS c_id, cent_id AS cell, v AS c_v FROM ivf_ranked WHERE crn = 1
       |)""".stripMargin
  }

  /** ivf_res&lt;suffix&gt;(q_id, rnk, c_id, cosine): top-K searching the
    * query's top-`nProbe` cells.
    */
  private def ivfResCtes(nProbe: Int, suffix: String): String =
    s"""ivf_probes$suffix AS (
       |  SELECT vec_id AS q_id, cent_id AS cell, v AS q_v
       |  FROM ivf_ranked WHERE vec_id < 5 AND crn <= $nProbe
       |), ivf_scored$suffix AS (
       |  SELECT q_id, c_id, ${cosineSql("q_v", "c_v")} AS cosine
       |  FROM ivf_probes$suffix JOIN ivf_assign USING (cell)
       |  WHERE q_id != c_id
       |), ivf_res$suffix AS (
       |  SELECT q_id, rnk, c_id, cosine FROM (
       |    SELECT q_id, c_id, cosine,
       |           CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS BIGINT) AS rnk
       |    FROM ivf_scored$suffix
       |  ) t WHERE rnk <= $K
       |)""".stripMargin

  private lazy val ivfCtes = s"$ivfBaseCtes, ${ivfResCtes(IvfProbe, "")}"

  /** PQ: per-subspace sample slices, Lloyd codebooks, corpus encoding,
    * ADC lookup tables, fixed-order 4-term scored sum. Slice parity:
    * Spark `slice(v, m*16+1, 16)` == DuckDB `v[m*16+1 : (m+1)*16]`.
    */
  private lazy val pqCtes = {
    val hashSql =
      s"CAST(concat('0x', substr(md5(concat('$PqSalt:', CAST(vec_id AS VARCHAR))), 1, 15)) AS BIGINT)"
    val subs = (0 until PqM).map { m =>
      val lo = m * PqSub + 1
      val hi = (m + 1) * PqSub
      val lloyd = (1 to PqIters).map(i =>
        lloydCtes(i, s"pq${m}_samp", s"pq${m}_c${i - 1}", s"pq$m", PqSub)).mkString(", ")
      s"""pq${m}_samp AS (
         |  SELECT vec_id, v[$lo:$hi] AS v, h FROM pq_samp
         |), pq${m}_c0 AS (
         |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY h, vec_id) AS BIGINT) AS cent_id, v AS cv
         |  FROM (SELECT * FROM pq${m}_samp ORDER BY h, vec_id LIMIT $PqK) s
         |), $lloyd, pq${m}_assign AS (
         |  SELECT vec_id, code FROM (
         |    SELECT a.vec_id, c.cent_id AS code,
         |           ROW_NUMBER() OVER (PARTITION BY a.vec_id
         |                              ORDER BY ${dotSql(s"a.v[$lo:$hi]", s"a.v[$lo:$hi]")}
         |                                - CAST(2.0 AS DOUBLE) * ${dotSql(s"a.v[$lo:$hi]", "c.cv")}
         |                                + ${dotSql("c.cv", "c.cv")} ASC, c.cent_id) AS rn
         |    FROM vecs a CROSS JOIN pq${m}_c$PqIters c
         |  ) t WHERE rn = 1
         |), pq${m}_lut AS (
         |  SELECT q.vec_id AS q_id, c.cent_id AS code,
         |         ${dotSql(s"q.v[$lo:$hi]", "c.cv")} AS d
         |  FROM vecs q CROSS JOIN pq${m}_c$PqIters c WHERE q.vec_id < 5
         |)""".stripMargin
    }.mkString(", ")
    s"""pq_samp AS (
       |  SELECT vec_id, v, $hashSql AS h FROM vecs
       |  ORDER BY h, vec_id LIMIT $IvfSample
       |), $subs, pq_scored AS (
       |  SELECT l0.q_id, a0.vec_id AS c_id, l0.d + l1.d + l2.d + l3.d AS adc
       |  FROM pq0_assign a0
       |  JOIN pq1_assign a1 ON a1.vec_id = a0.vec_id
       |  JOIN pq2_assign a2 ON a2.vec_id = a0.vec_id
       |  JOIN pq3_assign a3 ON a3.vec_id = a0.vec_id
       |  JOIN pq0_lut l0 ON l0.code = a0.code
       |  JOIN pq1_lut l1 ON l1.code = a1.code AND l1.q_id = l0.q_id
       |  JOIN pq2_lut l2 ON l2.code = a2.code AND l2.q_id = l0.q_id
       |  JOIN pq3_lut l3 ON l3.code = a3.code AND l3.q_id = l0.q_id
       |  WHERE l0.q_id != a0.vec_id
       |)""".stripMargin
  }

  /** pq_res(q_id, rnk, c_id, adc): pure-ADC top-K over pq_scored. */
  private lazy val pqResCtes =
    s"""pq_res AS (
       |  SELECT q_id, rnk, c_id, adc FROM (
       |    SELECT q_id, c_id, adc,
       |           CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc DESC, c_id) AS BIGINT) AS rnk
       |    FROM pq_scored
       |  ) t WHERE rnk <= $K
       |)""".stripMargin

  /** `prefix`_res(q_id, rnk, c_id, cosine): ADC-shortlist `scored`
    * (q_id, c_id, adc) to PqShortK, exact-cosine rerank, top-K — the
    * SQL mirror of [[rerankTopK]].
    */
  private def rerankCtes(scored: String, prefix: String): String =
    s"""${prefix}_short AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q_id, c_id,
       |           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc DESC, c_id) AS srn
       |    FROM $scored
       |  ) t WHERE srn <= $PqShortK
       |), ${prefix}_rr AS (
       |  SELECT s.q_id, s.c_id, ${cosineSql("q.v", "c.v")} AS cosine
       |  FROM ${prefix}_short s
       |  JOIN vecs c ON c.vec_id = s.c_id
       |  JOIN vecs q ON q.vec_id = s.q_id
       |), ${prefix}_res AS (
       |  SELECT q_id, rnk, c_id, cosine FROM (
       |    SELECT q_id, c_id, cosine,
       |           CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS BIGINT) AS rnk
       |    FROM ${prefix}_rr
       |  ) t WHERE rnk <= $K
       |)""".stripMargin

  /** ivfpq_scored: pq_scored restricted to cell-match pairs — the
    * candidate set a cell-partitioned codes table yields under
    * IvfProbe-cell routing (restriction commutes with ADC scoring, so
    * composing the two proven relations IS the two-level index).
    * Requires ivfBaseCtes and pqCtes in scope.
    */
  private lazy val ivfpqScoredCtes =
    s"""ivfpq_scored AS (
       |  SELECT s.q_id, s.c_id, s.adc
       |  FROM pq_scored s
       |  JOIN (SELECT vec_id AS q_id, cent_id AS cell
       |        FROM ivf_ranked WHERE vec_id < 5 AND crn <= $IvfProbe) p
       |    ON p.q_id = s.q_id
       |  JOIN ivf_assign a
       |    ON a.c_id = s.c_id AND a.cell = p.cell
       |)""".stripMargin

  def oracleSql: Map[String, String] = Map(

    "sim_ann_brute" ->
      s"""WITH $vecsCte, $bruteCtes
         |SELECT q_id, rnk, c_id, cosine FROM brute_res ORDER BY q_id, rnk""".stripMargin,

    "sim_ann_pq" ->
      s"""WITH $vecsCte, $pqCtes, $pqResCtes
         |SELECT q_id, rnk, c_id, adc FROM pq_res ORDER BY q_id, rnk""".stripMargin,

    "sim_ann_pq_rerank" ->
      s"""WITH $vecsCte, $pqCtes, ${rerankCtes("pq_scored", "pqr")}
         |SELECT q_id, rnk, c_id, cosine FROM pqr_res ORDER BY q_id, rnk""".stripMargin,

    "sim_ann_ivfpq" ->
      s"""WITH $vecsCte, $ivfBaseCtes, $pqCtes, $ivfpqScoredCtes,
         |${rerankCtes("ivfpq_scored", "ivfpq")}
         |SELECT q_id, rnk, c_id, cosine FROM ivfpq_res ORDER BY q_id, rnk""".stripMargin,

    "sim_ann_pq_recall" -> {
      def leg(method: String, res: String): String =
        s"""SELECT '$method' AS method, t.q_id,
           |       CAST(SUM(CASE WHEN a.c_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / $K AS recall
           |FROM brute_res t LEFT JOIN $res a ON t.q_id = a.q_id AND t.c_id = a.c_id
           |GROUP BY t.q_id""".stripMargin
      s"""WITH $vecsCte, $bruteCtes, $ivfBaseCtes, $pqCtes, $pqResCtes,
         |${rerankCtes("pq_scored", "pqr")}, $ivfpqScoredCtes,
         |${rerankCtes("ivfpq_scored", "ivfpq")}
         |${leg("pq", "pq_res")}
         |UNION ALL
         |${leg("pq_rerank", "pqr_res")}
         |UNION ALL
         |${leg("ivfpq", "ivfpq_res")}
         |ORDER BY method, q_id""".stripMargin
    },

    "sim_ann_ivf" ->
      s"""WITH $vecsCte, $ivfCtes
         |SELECT q_id, rnk, c_id, cosine FROM ivf_res ORDER BY q_id, rnk""".stripMargin,

    "sim_ann_opq_recall" ->
      s"""WITH $opqVecsCtes, $bruteCtes, $pqCtes, $pqResCtes
         |SELECT 'opq' AS method, t.q_id,
         |       CAST(SUM(CASE WHEN a.c_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / $K AS recall
         |FROM brute_res t LEFT JOIN pq_res a ON t.q_id = a.q_id AND t.c_id = a.c_id
         |GROUP BY t.q_id
         |ORDER BY method, t.q_id""".stripMargin,

    // the deployed form: train->freeze(perm+codebooks)->bulk->append->
    // probe from storage must equal the one-shot permuted-PQ ADC result
    "sim_ann_opq_idx" ->
      s"""WITH $opqVecsCtes, $pqCtes, $pqResCtes
         |SELECT q_id, rnk, c_id, adc FROM pq_res ORDER BY q_id, rnk""".stripMargin,

    // the two-level deployment: the permuted corpus bound to `vecs`
    // runs the shared IVF+PQ machinery verbatim (routing, ADC, and the
    // rerank all in the permuted space, matching the index)
    "sim_ann_opq_ivfpq_idx" ->
      s"""WITH $opqVecsCtes, $ivfBaseCtes, $pqCtes, $ivfpqScoredCtes,
         |${rerankCtes("ivfpq_scored", "ivfpq")}
         |SELECT q_id, rnk, c_id, cosine FROM ivfpq_res ORDER BY q_id, rnk""".stripMargin,

    "sim_ann_lsh" ->
      s"""WITH $vecsCte, $lshCtes
         |SELECT q_id, rnk, c_id, cosine FROM lsh_res ORDER BY q_id, rnk""".stripMargin,

    // identical semantics served from the stored index
    "sim_ann_lsh_idx" ->
      s"""WITH $vecsCte, $lshCtes
         |SELECT q_id, rnk, c_id, cosine FROM lsh_res ORDER BY q_id, rnk""".stripMargin,

    // probe-after-delete == the LSH pipeline over the corpus-without
    "sim_ann_lsh_delete" ->
      s"""WITH vecs AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |  WHERE vec_id % 7 != 6
         |), $lshCtes
         |SELECT q_id, rnk, c_id, cosine FROM lsh_res ORDER BY q_id, rnk""".stripMargin,

    "sim_ann_ivf_idx" ->
      s"""WITH $vecsCte, $ivfCtes
         |SELECT q_id, rnk, c_id, cosine FROM ivf_res ORDER BY q_id, rnk""".stripMargin,

    // re-bucketed index == the LSH pipeline over the doubled corpus at
    // the width the integer rule derives; prefix-stable planes let the
    // static max-width bucket expression check any runtime width by
    // masking (the scaled-graph oracle discipline)
    "sim_ann_lsh_rebucket" ->
      s"""WITH vecs_base AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |), vecs AS (
         |  SELECT vec_id, v FROM vecs_base
         |  UNION ALL
         |  SELECT b.vec_id + (SELECT MAX(vec_id) + 1 FROM vecs_base) AS vec_id,
         |         list_transform(generate_series(1, $Dim), j -> b.v[(j % $Dim) + 1]) AS v
         |  FROM vecs_base b
         |), rb_w AS (
         |  SELECT CAST(COALESCE(MIN(w), $KnnMaxBits) AS BIGINT) AS w
         |  FROM (SELECT UNNEST(generate_series($LshBits, $KnnMaxBits)) AS w) ws
         |  WHERE $KnnBucketTarget * (CAST(1 AS BIGINT) << w) >= (SELECT COUNT(*) FROM vecs)
         |), rb_bucketed AS (
         |  SELECT vec_id, v,
         |    (${bucketSqlAt("v", KnnMaxBits)}) & ((CAST(1 AS BIGINT) << (SELECT w FROM rb_w)) - 1) AS bucket
         |  FROM vecs
         |), rb_scored AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |         ${cosineSql("q.v", "c.v")} AS cosine
         |  FROM rb_bucketed q JOIN rb_bucketed c ON q.bucket = c.bucket
         |  WHERE q.vec_id < 5 AND q.vec_id != c.vec_id
         |)
         |SELECT q_id, rnk, c_id, cosine FROM (
         |  SELECT q_id, c_id, cosine,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS BIGINT) AS rnk
         |  FROM rb_scored
         |) t WHERE rnk <= $K ORDER BY q_id, rnk""".stripMargin,

    // retrain-from-index == a fresh build over the drifted union corpus
    // (base + the shifted wave at offset ids): the Lloyd sample depends
    // only on (vec_id, v), which parquet round-trips exactly
    "sim_ann_ivf_retrain" ->
      s"""WITH $driftVecsCtes, $ivfCtes
         |SELECT q_id, rnk, c_id, cosine FROM ivf_res ORDER BY q_id, rnk""".stripMargin,

    // both quantizers re-fit + full re-route/re-encode == one-shot
    // IVF+PQ over the drifted union (routing, ADC, and rerank all
    // replayed by the shared CTEs on the rebound corpus)
    "sim_ann_ivfpq_retrain" ->
      s"""WITH $driftVecsCtes, $ivfBaseCtes, $pqCtes, $ivfpqScoredCtes,
         |${rerankCtes("ivfpq_scored", "ivfpq")}
         |SELECT q_id, rnk, c_id, cosine FROM ivfpq_res ORDER BY q_id, rnk""".stripMargin,

    // retrained codebooks + bulk re-encode == one-shot PQ over the
    // drifted union: codebook fit and encode depend only on (vec_id, v)
    "sim_ann_pq_retrain" ->
      s"""WITH $driftVecsCtes, $pqCtes, $pqResCtes
         |SELECT q_id, rnk, c_id, adc FROM pq_res ORDER BY q_id, rnk""".stripMargin,

    // the snake-deal perm replayed from base-corpus integer scores,
    // union per-dim scores re-aggregated per assigned subspace — all
    // integer/decimal arithmetic, engine-exact; the SELECT folds the
    // DECIMAL masses to the policy's BIGINT dial (exact HUGEINT floor
    // division on nonnegative scores — mirrors Spark's DIV), keeping
    // the driver's single-shot compare off wide decimals (the r16
    // flake surface)
    "sim_ann_opq_drift" ->
      s"""WITH $driftVecsCtes, dim_q AS (
         |  SELECT pos - 1 AS pos, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(CAST(FLOOR(x * 10000.0) AS BIGINT)) AS BIGINT) AS sq,
         |    CAST(SUM(CAST(FLOOR(x * 10000.0) AS BIGINT)
         |      * CAST(FLOOR(x * 10000.0) AS BIGINT)) AS BIGINT) AS sq2
         |  FROM (SELECT UNNEST(v) AS x,
         |          UNNEST(generate_series(1, len(v))) AS pos FROM vecs_base)
         |  GROUP BY 1
         |), perm_rank AS (
         |  SELECT pos,
         |    ROW_NUMBER() OVER (ORDER BY (n * sq2 - sq * sq) DESC, pos) - 1 AS rk
         |  FROM dim_q
         |), sub_assign AS (
         |  SELECT pos, CASE WHEN (rk // $PqM) % 2 = 0 THEN rk % $PqM
         |    ELSE $PqM - 1 - (rk % $PqM) END AS subspace
         |  FROM perm_rank
         |), union_q AS (
         |  SELECT pos - 1 AS pos, CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
         |    CAST(SUM(CAST(FLOOR(x * 10000.0) AS BIGINT)) AS DECIMAL(38,0)) AS sq,
         |    CAST(SUM(CAST(FLOOR(x * 10000.0) AS BIGINT)
         |      * CAST(FLOOR(x * 10000.0) AS BIGINT)) AS DECIMAL(38,0)) AS sq2
         |  FROM (SELECT UNNEST(v) AS x,
         |          UNNEST(generate_series(1, len(v))) AS pos FROM vecs)
         |  GROUP BY 1
         |), scored AS (
         |  SELECT CAST(subspace AS BIGINT) AS subspace,
         |    CAST(COUNT(*) AS BIGINT) AS n_dims,
         |    CAST(SUM(n * sq2 - sq * sq) AS HUGEINT) AS var_score
         |  FROM union_q JOIN sub_assign USING (pos)
         |  GROUP BY 1
         |), ext AS (
         |  SELECT MAX(var_score) AS max_var, MIN(var_score) AS min_var
         |  FROM scored
         |)
         |SELECT subspace, n_dims,
         |  CAST(var_score // GREATEST(max_var // 1000, 1) AS BIGINT)
         |    AS permille_of_max,
         |  CAST(LEAST(max_var // GREATEST(min_var // 100, 1),
         |             CAST(1000000000000000 AS HUGEINT)) AS BIGINT)
         |    AS ratio_pct
         |FROM scored, ext ORDER BY subspace""".stripMargin,

    "sim_ann_pq_idx" ->
      s"""WITH $vecsCte, $pqCtes, $pqResCtes
         |SELECT q_id, rnk, c_id, adc FROM pq_res ORDER BY q_id, rnk""".stripMargin,

    // maintained-index convergence: the upsert path encodes against the
    // SAME stored codebooks a one-shot build trains, so the oracle is
    // the flat-PQ ADC result unchanged
    "sim_ann_pq_upsert" ->
      s"""WITH $vecsCte, $pqCtes, $pqResCtes
         |SELECT q_id, rnk, c_id, adc FROM pq_res ORDER BY q_id, rnk""".stripMargin,

    "sim_ann_ivfpq_upsert" ->
      s"""WITH $vecsCte, $ivfBaseCtes, $pqCtes, $ivfpqScoredCtes,
         |${rerankCtes("ivfpq_scored", "ivfpq")}
         |SELECT q_id, rnk, c_id, cosine FROM ivfpq_res ORDER BY q_id, rnk""".stripMargin,

    "sim_ann_ivfpq_idx" ->
      s"""WITH $vecsCte, $ivfBaseCtes, $pqCtes, $ivfpqScoredCtes,
         |${rerankCtes("ivfpq_scored", "ivfpq")}
         |SELECT q_id, rnk, c_id, cosine FROM ivfpq_res ORDER BY q_id, rnk""".stripMargin,

    "pq_code_stats" -> {
      val arms = (0 until PqM).map(m =>
        s"SELECT CAST($m AS BIGINT) AS m, code, CAST(COUNT(*) AS BIGINT) AS n_vecs FROM pq${m}_assign GROUP BY code")
        .mkString("\n  UNION ALL\n  ")
      s"""WITH $vecsCte, $pqCtes, stats AS (
         |  $arms
         |), grid AS (
         |  SELECT gm.m, gc.code
         |  FROM (SELECT unnest(generate_series(0, ${PqM - 1})) AS m) gm,
         |       (SELECT unnest(generate_series(1, $PqK)) AS code) gc
         |), tot AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS total FROM vecs
         |)
         |SELECT CAST(g.m AS BIGINT) AS m, CAST(g.code AS BIGINT) AS code,
         |       CAST(COALESCE(s.n_vecs, 0) AS BIGINT) AS n_vecs,
         |       CAST(COALESCE(s.n_vecs, 0) AS DOUBLE) / CAST(total AS DOUBLE) AS share
         |FROM grid g LEFT JOIN stats s ON s.m = g.m AND s.code = g.code
         |CROSS JOIN tot ORDER BY m, code""".stripMargin
    },

    "sim_ann_lsh_mp" ->
      s"""WITH $vecsCte, $lshCtes, $lshMpCtes
         |SELECT q_id, rnk, c_id, cosine FROM lsh_mp_res ORDER BY q_id, rnk""".stripMargin,

    "sim_decontam" -> {
      val maskList = mpMasks(LshBits).map(m => s"CAST($m AS BIGINT)").mkString("[", ", ", "]")
      val splitSql =
        s"CAST(concat('0x', substr(md5(concat('${PipelineQueries.SplitSalt}:', CAST(vec_id AS VARCHAR))), 1, 15)) AS BIGINT) % 100"
      s"""WITH $vecsCte, $lshCtes, sd_test AS (
         |  SELECT vec_id AS test_id, v AS q_v, xor(bucket, m.mask) AS bucket
         |  FROM bucketed CROSS JOIN (SELECT UNNEST($maskList) AS mask) m
         |  WHERE $splitSql >= ${PipelineQueries.TrainPct + PipelineQueries.ValPct}
         |), sd_train AS (
         |  SELECT vec_id AS train_id, v AS t_v, bucket FROM bucketed
         |  WHERE $splitSql < ${PipelineQueries.TrainPct}
         |), sd_scored AS (
         |  SELECT q.test_id, ${cosineSql("q.q_v", "t.t_v")} AS cosine
         |  FROM sd_test q JOIN sd_train t USING (bucket)
         |)
         |SELECT test_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_train_neighbors,
         |  MAX(cosine) AS max_cosine
         |FROM sd_scored
         |WHERE cosine >= $DecontamCosine
         |GROUP BY test_id ORDER BY test_id""".stripMargin
    },

    // every SAMPLED-corpus vector as query, same multi-probe buckets,
    // top-KnnK; the stride derives exactly like the Scala side (smallest
    // power of two with N/stride <= KnnSampleCap — stride 1 at driver
    // test scales, so the SQL is static while the rule stays checked)
    "sim_knn_graph" -> {
      val maskList = mpMasks(LshBits).map(m => s"CAST($m AS BIGINT)").mkString("[", ", ", "]")
      s"""WITH $vecsCte, knn_s AS (
         |  SELECT CAST(COALESCE(MIN(s), ${1L << 40}) AS BIGINT) AS s FROM (
         |    SELECT (CAST(1 AS BIGINT) << i) AS s
         |    FROM (SELECT UNNEST(generate_series(0, 40)) AS i) ii
         |  ) ss
         |  WHERE s * $KnnSampleCap >= (SELECT COUNT(*) FROM vecs)
         |), kbucketed AS (
         |  SELECT vec_id, v, ${bucketSql("v")} AS bucket
         |  FROM vecs WHERE vec_id % (SELECT s FROM knn_s) = 0
         |), knn_probes AS (
         |  SELECT vec_id AS q_id, v AS q_v, xor(bucket, m.mask) AS bucket
         |  FROM kbucketed CROSS JOIN (SELECT UNNEST($maskList) AS mask) m
         |), knn_scored AS (
         |  SELECT q.q_id, c.vec_id AS c_id,
         |         ${cosineSql("q.q_v", "c.v")} AS cosine
         |  FROM knn_probes q JOIN kbucketed c USING (bucket)
         |  WHERE q.q_id != c.vec_id
         |)
         |SELECT q_id, rnk, c_id, cosine,
         |       (SELECT s FROM knn_s) AS stride FROM (
         |  SELECT q_id, c_id, cosine,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS BIGINT) AS rnk
         |  FROM knn_scored
         |) t WHERE rnk <= $KnnK ORDER BY q_id, rnk""".stripMargin
    },

    "sim_ann_bucket_stats" ->
      s"""WITH $vecsCte, $lshCtes, pops AS (
         |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS pop
         |  FROM bucketed GROUP BY bucket
         |)
         |SELECT CAST(SUM(pop) AS BIGINT) AS n_vecs,
         |       CAST(COUNT(*) AS BIGINT) AS n_buckets,
         |       CAST(MAX(pop) AS BIGINT) AS max_pop,
         |       CAST(SUM(pop) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_pop
         |FROM pops""".stripMargin,

    // same quantizer CTEs; the member→centroid cosine is recomputed
    // from the crn=1 assignment, quantized to the same 1e-9 BIGINT grid
    "ivf_cell_stats" ->
      s"""WITH $vecsCte, $ivfBaseCtes, ics AS (
         |  SELECT r.vec_id, r.cent_id,
         |    CAST(FLOOR((${cosineSql("r.v", "c.cv")}) * 1000000000.0) AS BIGINT) AS qcos
         |  FROM ivf_ranked r JOIN ivf_c$IvfIters c USING (cent_id)
         |  WHERE r.crn = 1
         |), icur AS (
         |  SELECT cent_id, CAST(COUNT(*) AS BIGINT) AS pop,
         |         CAST(SUM(qcos) AS BIGINT) AS sum_qcos
         |  FROM ics GROUP BY cent_id
         |), itt AS (SELECT CAST(SUM(pop) AS BIGINT) AS total FROM icur)
         |SELECT cent_id, pop,
         |  CAST(pop AS DOUBLE) / CAST(total AS DOUBLE) AS share,
         |  CAST(sum_qcos AS DOUBLE) / CAST(pop AS DOUBLE) / 1000000000.0 AS mean_ccos
         |FROM icur CROSS JOIN itt ORDER BY cent_id""".stripMargin,

    "embed_stats" ->
      s"""WITH $vecsCte, nr AS (
         |  SELECT sqrt(${dotSql("v", "v")}) AS nrm FROM vecs
         |)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
         |       CAST(SUM(CASE WHEN nrm = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_norm,
         |       MIN(nrm) AS min_norm,
         |       MAX(nrm) AS max_norm
         |FROM nr""".stripMargin,

    // same quantizer CTEs as sim_ann_ivf; the mix arithmetic mirrors
    // pipe_mix's exact tree
    "pipe_topic_mix" ->
      s"""WITH $vecsCte, $ivfBaseCtes, tm AS (
         |  SELECT cent_id, CAST(COUNT(*) AS BIGINT) AS n_vecs
         |  FROM ivf_ranked WHERE crn = 1 GROUP BY cent_id
         |), tt AS (
         |  SELECT CAST(SUM(n_vecs) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS k FROM tm
         |)
         |SELECT cent_id, n_vecs,
         |       CAST(n_vecs AS DOUBLE) / CAST(total AS DOUBLE) AS share,
         |       (CAST(1.0 AS DOUBLE) / CAST(k AS DOUBLE))
         |         / (CAST(n_vecs AS DOUBLE) / CAST(total AS DOUBLE)) AS weight
         |FROM tm CROSS JOIN tt ORDER BY cent_id""".stripMargin,

    // same pipeline at the SQL-derived width: bucket at KnnMaxBits, mask
    // to the low w bits (prefix-stable hyperplane family), masks from
    // generate_series(0, w-1)
    "sim_knn_graph_scaled" ->
      s"""WITH $vecsCte, knn_w AS (
         |  SELECT CAST(COALESCE(MIN(w), $KnnMaxBits) AS BIGINT) AS w
         |  FROM (SELECT UNNEST(generate_series($LshBits, $KnnMaxBits)) AS w) ws
         |  WHERE $KnnBucketTarget * (CAST(1 AS BIGINT) << w) >= (SELECT COUNT(*) FROM vecs)
         |), knn_bucketed AS (
         |  SELECT vec_id, v,
         |    (${bucketSqlAt("v", KnnMaxBits)})
         |      % (CAST(1 AS BIGINT) << (SELECT w FROM knn_w)) AS bucket
         |  FROM vecs
         |), knn_masks AS (
         |  SELECT UNNEST([CAST(0 AS BIGINT)] ||
         |    list_transform(generate_series(0, (SELECT w FROM knn_w) - 1),
         |                   i -> CAST(1 AS BIGINT) << i)) AS mask
         |), knn_probes AS (
         |  SELECT vec_id AS q_id, v AS q_v, xor(bucket, m.mask) AS bucket
         |  FROM knn_bucketed CROSS JOIN knn_masks m
         |), knn_scored AS (
         |  SELECT q.q_id, c.vec_id AS c_id,
         |         ${cosineSql("q.q_v", "c.v")} AS cosine
         |  FROM knn_probes q JOIN knn_bucketed c USING (bucket)
         |  WHERE q.q_id != c.vec_id
         |)
         |SELECT q_id, rnk, c_id, cosine FROM (
         |  SELECT q_id, c_id, cosine,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS BIGINT) AS rnk
         |  FROM knn_scored
         |) t WHERE rnk <= $KnnK ORDER BY q_id, rnk""".stripMargin,

    // one derived-width banded table per band; pairs deduped across
    // bands before the rank, exactly the Spark plan
    "sim_knn_graph_banded" ->
      s"""WITH $vecsCte, $bandedCtes, kb_scored AS (
         |  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS c_id,
         |         ${cosineSql("q.v", "c.v")} AS cosine
         |  FROM kb_banded q JOIN kb_banded c
         |    ON q.band = c.band AND q.bucket = c.bucket
         |  WHERE q.vec_id != c.vec_id
         |)
         |SELECT q_id, rnk, c_id, cosine FROM (
         |  SELECT q_id, c_id, cosine,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS BIGINT) AS rnk
         |  FROM kb_scored
         |) t WHERE rnk <= $KnnK ORDER BY q_id, rnk""".stripMargin,

    // derived width + Hamming-1/2 mask sets in SQL (masks2 = pairwise
    // XORs of masks1), edges for the q<5 slice, recall vs the brute
    // truth's top-KnnK prefix; b4 = the banded (OR-amplified) edges
    "sim_knn_graph_recall" -> {
      def edgeCtes(maskCte: String, sfx: String): String =
        s"""kr_probes$sfx AS (
           |  SELECT vec_id AS q_id, v AS q_v, xor(bucket, m.mask) AS bucket
           |  FROM knn_bucketed CROSS JOIN $maskCte m
           |  WHERE vec_id < 5
           |), kr_scored$sfx AS (
           |  SELECT q.q_id, c.vec_id AS c_id,
           |         ${cosineSql("q.q_v", "c.v")} AS cosine
           |  FROM kr_probes$sfx q JOIN knn_bucketed c USING (bucket)
           |  WHERE q.q_id != c.vec_id
           |), kr_edges$sfx AS (
           |  SELECT q_id, c_id FROM (
           |    SELECT q_id, c_id,
           |           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rnk
           |    FROM kr_scored$sfx
           |  ) t WHERE rnk <= $KnnK
           |)""".stripMargin
      def leg(method: String, edges: String): String =
        s"""SELECT '$method' AS method, t.q_id,
           |       CAST(SUM(CASE WHEN a.c_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / $KnnK AS recall
           |FROM kr_truth t LEFT JOIN $edges a ON t.q_id = a.q_id AND t.c_id = a.c_id
           |GROUP BY t.q_id""".stripMargin
      s"""WITH $vecsCte, $bruteCtes, kr_truth AS (
         |  SELECT q_id, c_id FROM brute_res WHERE rnk <= $KnnK
         |), $bandedCtes, knn_bucketed AS (
         |  SELECT vec_id, v,
         |    (${bucketSqlAt("v", KnnMaxBits)})
         |      % (CAST(1 AS BIGINT) << (SELECT w FROM knn_w)) AS bucket
         |  FROM vecs
         |), knn_m1 AS (
         |  SELECT UNNEST([CAST(0 AS BIGINT)] ||
         |    list_transform(generate_series(0, (SELECT w FROM knn_w) - 1),
         |                   i -> CAST(1 AS BIGINT) << i)) AS mask
         |), knn_m2 AS (
         |  SELECT DISTINCT xor(a.mask, b.mask) AS mask
         |  FROM knn_m1 a CROSS JOIN knn_m1 b
         |), ${edgeCtes("knn_m1", "_h1")}, ${edgeCtes("knn_m2", "_h2")},
         |kb_scored4 AS (
         |  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS c_id,
         |         ${cosineSql("q.v", "c.v")} AS cosine
         |  FROM kb_banded q JOIN kb_banded c
         |    ON q.band = c.band AND q.bucket = c.bucket
         |  WHERE q.vec_id < 5 AND q.vec_id != c.vec_id
         |), kr_edges_b4 AS (
         |  SELECT q_id, c_id FROM (
         |    SELECT q_id, c_id,
         |           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rnk
         |    FROM kb_scored4
         |  ) t WHERE rnk <= $KnnK
         |)
         |${leg("h1", "kr_edges_h1")}
         |UNION ALL
         |${leg("h2", "kr_edges_h2")}
         |UNION ALL
         |${leg("b4", "kr_edges_b4")}
         |ORDER BY method, q_id""".stripMargin
    },

    // maintained index converges to the rebuild (AnnIndexSpec), so the
    // save -> upsert -> probe cycle answers exactly like sim_ann_lsh
    "sim_ann_lsh_upsert" ->
      s"""WITH $vecsCte, $lshCtes
         |SELECT q_id, rnk, c_id, cosine FROM lsh_res ORDER BY q_id, rnk""".stripMargin,

    "embed_quant" ->
      s"""WITH $vecsCte, sc AS (
         |  SELECT vec_id, v,
         |         list_aggregate(list_transform(v, x -> abs(x)), 'max') / 127.0 AS s
         |  FROM vecs
         |), dqt AS (
         |  SELECT vec_id, v, s,
         |         CASE WHEN s = 0.0 THEN list_transform(v, x -> 0.0)
         |              ELSE list_transform(v, x -> floor(x / s + 0.5) * s) END AS dq
         |  FROM sc
         |)
         |SELECT vec_id, s AS scale,
         |       ${cosineSql("v", "dq")} AS recon_cosine,
         |       list_aggregate(list_transform(list_zip(v, dq), p -> abs(p[1] - p[2])), 'max') AS max_abs_err
         |FROM dqt ORDER BY vec_id""".stripMargin,

    "sim_ann_quant" ->
      s"""WITH $vecsCte, $bruteCtes, dqv AS (
         |  SELECT vec_id,
         |         CASE WHEN list_aggregate(list_transform(v, x -> abs(x)), 'max') / 127.0 = 0.0
         |              THEN list_transform(v, x -> 0.0)
         |              ELSE list_transform(v, x ->
         |                floor(x / (list_aggregate(list_transform(v, y -> abs(y)), 'max') / 127.0) + 0.5)
         |                * (list_aggregate(list_transform(v, y -> abs(y)), 'max') / 127.0)) END AS v
         |  FROM vecs
         |), q_scored AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |         ${cosineSql("q.v", "c.v")} AS cosine
         |  FROM dqv q JOIN dqv c ON q.vec_id < 5 AND q.vec_id != c.vec_id
         |), quant_res AS (
         |  SELECT q_id, rnk, c_id FROM (
         |    SELECT q_id, c_id, cosine,
         |           CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS BIGINT) AS rnk
         |    FROM q_scored
         |  ) t WHERE rnk <= $K
         |)
         |SELECT 'brute_int8' AS method, t.q_id,
         |       CAST(SUM(CASE WHEN a.c_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / $K AS recall
         |FROM brute_res t LEFT JOIN quant_res a ON t.q_id = a.q_id AND t.c_id = a.c_id
         |GROUP BY t.q_id ORDER BY t.q_id""".stripMargin,

    "sim_ann_recall" -> {
      def leg(method: String, res: String): String =
        s"""SELECT '$method' AS method, t.q_id,
           |       CAST(SUM(CASE WHEN a.c_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / $K AS recall
           |FROM brute_res t LEFT JOIN $res a ON t.q_id = a.q_id AND t.c_id = a.c_id
           |GROUP BY t.q_id""".stripMargin
      s"""WITH $vecsCte, $bruteCtes, $lshCtes, $lshMpCtes, $ivfBaseCtes,
         |${ivfResCtes(1, "_p1")}, ${ivfResCtes(IvfProbe, "")}, ${ivfResCtes(4, "_p4")}
         |${leg("lsh", "lsh_res")}
         |UNION ALL
         |${leg("lsh_mp", "lsh_mp_res")}
         |UNION ALL
         |${leg("ivf_p1", "ivf_res_p1")}
         |UNION ALL
         |${leg("ivf", "ivf_res")}
         |UNION ALL
         |${leg("ivf_p4", "ivf_res_p4")}
         |ORDER BY method, q_id""".stripMargin
    }
  )
}
