package graft.operators

import graft.functions.vectors
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate nearest-neighbor search over an embedding column
  * (BASELINE north star; SURVEY.md §2.F Q2).
  *
  * Two paths:
  *   - `bruteForceTopK` — exact: codegen'd cosine + TakeOrderedAndProject.
  *     The correctness baseline, and genuinely fine at surprising scale
  *     (a scan + k-heap per partition; no shuffle beyond the final k).
  *   - hyperplane LSH — the scale path: signature = sign bits of dot
  *     products with `planes` seeded random hyperplanes. Collision
  *     probability for angle theta is (1 - theta/pi)^planes, so same-
  *     bucket vectors are cosine-close. Index = signature column
  *     (persist partitioned/bucketed by it); query probes the query's
  *     bucket plus `probes` single-bit flips (multi-probe), then exactly
  *     rescores candidates. Recall/latency tunes with planes & probes.
  *
  * Determinism: hyperplanes are splitmix64-derived gaussians from
  * (seed, plane, coordinate) — no fitting, identical across runs and
  * cluster layouts.
  */
object Ann {

  /** Gaussian via Box-Muller on splitmix64 streams — deterministic. */
  private[graft] def gaussian(seed: Long, plane: Int, coord: Int): Double = {
    val h1 = Dedup.splitmix64(seed ^ (plane.toLong << 32) ^ coord.toLong)
    val h2 = Dedup.splitmix64(h1)
    val u1 = ((h1 >>> 11).toDouble + 0.5) / (1L << 53).toDouble
    val u2 = ((h2 >>> 11).toDouble + 0.5) / (1L << 53).toDouble
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  /** Per-executor cache of the (planes x dim) hyperplane matrix — the
    * gaussians are pure functions of (seed, plane, coord), so caching is
    * transparent; without it every signature call re-runs Box-Muller
    * planes*dim times (log+cos per value — the dominant cost at scale). */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Long, Int, Int), Array[Array[Double]]]()

  private[graft] def planeMatrix(seed: Long, planes: Int, dim: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent((seed, planes, dim),
      _ => Array.tabulate(planes, dim)((p, i) => gaussian(seed, p, i)))

  private[graft] def signature(vec: Array[Double], planes: Int, seed: Long): Int = {
    val m = planeMatrix(seed, planes, vec.length)
    var sig = 0
    var p = 0
    while (p < planes) {
      val row = m(p)
      var dot = 0.0
      var i = 0
      while (i < vec.length) { dot += vec(i) * row(i); i += 1 }
      if (dot >= 0) sig |= (1 << p)
      p += 1
    }
    sig
  }

  /** Array of `bands` independent signatures (for near-dup banding). */
  def bandedSignatures(vec: Column, planesPerBand: Int, bands: Int, seed: Long): Column = {
    val f = udf((v: Seq[Double]) => {
      val arr = v.toArray
      (0 until bands).map(b =>
        signature(arr, planesPerBand, seed + b * 0x9E3779B97F4A7C15L)).toArray
    })
    f(vec.cast("array<double>"))
  }

  /** Exact top-k: scan + cosine + distributed top-k. */
  def bruteForceTopK(
      df: DataFrame, vecCol: String, idCol: String,
      q: Array[Float], k: Int): DataFrame = {
    val qc = lit(q.map(_.toDouble))
    df.withColumn("score", vectors.cosine(col(vecCol), qc))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** MATRYOSHKA two-stage search (r18 — the MRL serving trick,
    * Kusupati et al. NeurIPS'22; OpenAI text-embedding-3's
    * `dimensions` knob): MRL-trained embeddings nest, so the first
    * `prefixDim` components are themselves a usable embedding — the
    * shortlist pass scores cosine on the PREFIX only (prefixDim/dim of
    * the arithmetic, and of the bytes once vectors are stored
    * prefix-first), and the exact full-dimension rescore runs on the
    * shortlist alone. `shortlist` >= corpus recovers exact brute
    * force; both cuts are (score desc, id) TakeOrderedAndProject. On
    * non-MRL embeddings this is still a valid (coarser) two-stage
    * filter — recall just degrades with the prefix's information
    * share. */
  def matryoshkaTopK(df: DataFrame, vecCol: String, idCol: String,
      q: Array[Float], prefixDim: Int, shortlist: Int, k: Int): DataFrame = {
    require(prefixDim >= 1 && prefixDim <= q.length,
      s"prefixDim $prefixDim out of [1, ${q.length}]")
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val qPre = lit(q.take(prefixDim).map(_.toDouble))
    val qFull = lit(q.map(_.toDouble))
    df.select(col(idCol), col(vecCol))
      .withColumn("_ps", vectors.cosine(slice(col(vecCol), 1, prefixDim), qPre))
      .orderBy(col("_ps").desc, col(idCol))
      .limit(shortlist)
      .withColumn("score", vectors.cosine(col(vecCol), qFull))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("score"))
  }

  /** Banded (OR-amplified) index: `bands` independent signatures of
    * `planesPerBand` bits each, band id packed into the bucket's high
    * bits. A row is a candidate for a query iff ANY band bucket matches
    * — recall amplifies as 1-(1-p^r)^b while distant points still prune.
    *
    * Physical layout at scale: explode `_buckets` to (bucket, row) and
    * write partitioned/bucketed by bucket; a query then touches `bands`
    * partitions instead of scanning + arrays_overlap. The column form
    * here keeps the operator composable; `explodeForLayout` produces the
    * partition-friendly shape.
    *
    * Tuning honesty: on tightly clustered data (real embedding corpora),
    * fewer/longer bands prune hard at high recall. On near-isotropic
    * data (the synthetic fixtures: top-10 neighbors sit at cosine
    * 0.24-0.43), any setting trades recall against pruning smoothly —
    * r=4, b=16 lands ~0.85+ recall with moderate pruning. */
  def buildIndex(df: DataFrame, vecCol: String,
      planesPerBand: Int = 4, bands: Int = 16, seed: Long = 42L): DataFrame = {
    // Record the build params in column metadata: query-side code
    // (AnnTopKPruneRule) must hash the query vector with the SAME params
    // or bucket membership is meaningless. Metadata rides the attribute
    // through projections/filters and survives a parquet round trip
    // (Spark persists field metadata in the schema footer). It goes on
    // BOTH columns: `_buckets` (the cheap filter target when the index
    // is materialized) and the vector column itself — a top-k sort key
    // always references the vector, so the vector's marker survives the
    // column pruning that eliminates an unmaterialized `_buckets`
    // projection on `select(id)`-shaped queries.
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(ParamPlanes, planesPerBand.toLong)
      .putLong(ParamBands, bands.toLong)
      .putLong(ParamSeed, seed)
      .build()
    df.withColumn(vecCol, col(vecCol).as(vecCol, md))
      .withColumn("_buckets",
        vectors.lshBuckets(col(vecCol), planesPerBand, bands, seed).as("_buckets", md))
  }

  /** Metadata keys carrying LSH build params on the `_buckets` column. */
  val ParamPlanes = "graft.ann.planesPerBand"
  val ParamBands = "graft.ann.bands"
  val ParamSeed = "graft.ann.seed"

  private[graft] def bucketSet(v: Array[Double], planesPerBand: Int,
      bands: Int, seed: Long): Array[Int] =
    Array.tabulate(bands) { b =>
      (b << planesPerBand) |
        signature(v, planesPerBand, seed + b * 0x9E3779B97F4A7C15L)
    }

  /** Partition-friendly layout: one row per (bucket, row). */
  def explodeForLayout(indexed: DataFrame): DataFrame =
    indexed.withColumn("_bucket", explode(col("_buckets"))).drop("_buckets")

  /** Query: candidates = any-band bucket match, exact cosine rescore,
    * distributed top-k. */
  def queryIndex(indexed: DataFrame, vecCol: String, idCol: String,
      q: Array[Float], k: Int,
      planesPerBand: Int = 4, bands: Int = 16, seed: Long = 42L): DataFrame = {
    val qBuckets = bucketSet(q.map(_.toDouble), planesPerBand, bands, seed)
    val candidates = indexed.filter(
      arrays_overlap(col("_buckets"), lit(qBuckets)))
    bruteForceTopK(candidates, vecCol, idCol, q, k)
  }

  // ---------- IVF (inverted-file) index — the clustered-corpus scale path ----------

  /** IVF index: rows partitioned into `k` k-means cells over L2-normalized
    * vectors (on the unit sphere euclidean order == cosine order, so the
    * cells are "spherical"); a query probes only the `nProbe` cells whose
    * centroids are nearest, then exact-rescores inside them — touching
    * ~nProbe/k of the data. Batch build via MLlib KMeans (seeded). At
    * cluster scale, persist `data` partitioned by `_cell` so a probe
    * prunes whole partitions. */
  final case class IvfIndex(data: DataFrame, centroids: Array[Array[Double]])

  // codegen'd single-pass normalize: the HOF form (`transform(v, x =>
  // x / l2Norm(v))`) re-evaluated the norm per ELEMENT — O(dim²)/row —
  // because lambdas run interpreted with no subexpression elimination.
  // Bit-identical output (same element / sqrt(Σx²) division).
  private def normalized(vec: Column): Column =
    graft.functions.vectors.l2Normalize(vec)

  /** Metadata keys carrying the IVF centroids on the `_cell` column
    * (flattened row-major + dim) so query-side code — the declarative
    * [[graft.plans.AnnTopKPruneRule]] cell-prune path — can compute a
    * query's probe cells at PLAN time from the plan alone. */
  val IvfCentroids = "graft.ann.ivf.centroids"
  val IvfDim = "graft.ann.ivf.dim"

  def buildIvf(df: DataFrame, vecCol: String, k: Int = 16, seed: Long = 42L,
      maxIter: Int = 10): IvfIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val feat = df.withColumn("_nvec", array_to_vector(normalized(col(vecCol))))
    // cell assignment quality saturates quickly and the index only needs
    // stable cells, not converged centroids — 10 iterations suffices
    val model = new KMeans().setK(k).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("_nvec").setPredictionCol("_cell")
      .fit(feat)
    val centroids = model.clusterCenters.map(_.toArray)
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .putDoubleArray(IvfCentroids, centroids.flatten)
      .putLong(IvfDim, centroids.headOption.map(_.length.toLong).getOrElse(0L))
      .build()
    IvfIndex(model.transform(feat).drop("_nvec")
      .withColumn("_cell", col("_cell").as("_cell", md)), centroids)
  }

  /** Normalize to the unit sphere (cosine order == euclidean order). */
  private[graft] def normalizeVec(q: Array[Double]): Array[Double] = {
    val n = math.sqrt(q.map(x => x * x).sum)
    if (n == 0.0) q else q.map(_ / n)
  }

  /** Indexes of the `nProbe` centroids nearest to (normalized) q —
    * deterministic tie-break by cell id. */
  private[graft] def nearestCells(centroids: Array[Array[Double]],
      q: Array[Double], nProbe: Int): Array[Int] = {
    val qn = normalizeVec(q)
    centroids.zipWithIndex
      .map { case (c, i) =>
        var d = 0.0; var j = 0
        while (j < math.min(c.length, qn.length)) { val t = c(j) - qn(j); d += t * t; j += 1 }
        (i, d)
      }
      .sortBy { case (i, d) => (d, i) }
      .take(nProbe).map(_._1)
  }

  def queryIvf(idx: IvfIndex, vecCol: String, idCol: String,
      q: Array[Float], k: Int, nProbe: Int = 4): DataFrame = {
    val cells = nearestCells(idx.centroids, q.map(_.toDouble), nProbe)
    bruteForceTopK(idx.data.filter(col("_cell").isin(cells.toIndexedSeq: _*)), vecCol, idCol, q, k)
  }

  // ---------- PQ (product quantization) — the memory-scale path ----------

  /** Product quantizer: vectors are L2-normalized (unit sphere ⇒ L2
    * order == cosine order), split into `m` subvectors, and each
    * subvector replaced by the id of its nearest codebook centroid —
    * one byte per subspace. A 100 TB float32 corpus becomes
    * dim*4/m bytes-per-vector smaller (64-dim → 8 bytes = 32×), small
    * enough to keep hot; queries rank by asymmetric distance (per-
    * subspace lookup tables computed once per query), take a shortlist,
    * and exactly rescore it against the full vectors. Training is a
    * driver-side seeded Lloyd over a bounded sample — deterministic,
    * no MLlib fit over the full data. */
  final case class PqModel(m: Int, k: Int, subDim: Int,
      codebooks: Array[Array[Array[Double]]])

  def trainPq(df: DataFrame, vecCol: String, m: Int = 16, k: Int = 16,
      seed: Long = 42L, sampleN: Int = 2048, iters: Int = 10): PqModel = {
    // orderBy before limit => TakeOrderedAndProject: the training sample
    // is a function of the DATA, not of file/partition layout — a
    // repartitioned copy of the same vectors trains the same codebooks.
    // Ordering by a HASH of the vector (not the vector itself, which
    // would take one lexicographic corner of the sphere once the corpus
    // exceeds sampleN) keeps the sample deterministic AND unbiased;
    // the vector tie-break makes hash collisions harmless.
    val sample = df.select(normalized(col(vecCol)).as("_nv"))
      .orderBy(xxhash64(col("_nv")), col("_nv")).limit(sampleN).collect()
      .map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "trainPq: empty input")
    val dim = sample.head.length
    require(dim % m == 0, s"trainPq: dim $dim not divisible by m=$m")
    val subDim = dim / m
    val codebooks = Array.tabulate(m) { s =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim))
      lloyd(sub, k, seed ^ (s.toLong << 17), iters)
    }
    PqModel(m, k, subDim, codebooks)
  }

  /** Seeded Lloyd iterations on a driver-side sample. Deterministic:
    * splitmix64 picks the initial centroids, ties break to the lowest
    * centroid id, an emptied cluster keeps its previous centroid. */
  private def lloyd(points: Array[Array[Double]], k: Int, seed: Long,
      iters: Int): Array[Array[Double]] = {
    val n = points.length
    var cent = Array.tabulate(k)(i =>
      points(math.floorMod(Dedup.splitmix64(seed + i), n).toInt).clone())
    val assign = new Array[Int](n)
    var it = 0
    while (it < iters) {
      var p = 0
      while (p < n) {
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var d = 0.0; var j = 0
          val cc = cent(c); val pp = points(p)
          while (j < pp.length) { val t = pp(j) - cc(j); d += t * t; j += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        assign(p) = best
        p += 1
      }
      val sums = Array.fill(k)(new Array[Double](points.head.length))
      val counts = new Array[Int](k)
      p = 0
      while (p < n) {
        val a = assign(p); counts(a) += 1
        var j = 0
        while (j < points(p).length) { sums(a)(j) += points(p)(j); j += 1 }
        p += 1
      }
      cent = Array.tabulate(k)(c =>
        if (counts(c) == 0) cent(c)
        else sums(c).map(_ / counts(c)))
      it += 1
    }
    cent
  }

  private[graft] def pqEncode(v: Array[Double], model: PqModel): Array[Byte] = {
    val norm = math.sqrt(v.map(x => x * x).sum)
    val nv = if (norm == 0.0) v else v.map(_ / norm)
    Array.tabulate(model.m) { s =>
      val cb = model.codebooks(s)
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < cb.length) {
        var d = 0.0; var j = 0
        while (j < model.subDim) {
          val t = nv(s * model.subDim + j) - cb(c)(j); d += t * t; j += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best.toByte
    }
  }

  /** Attach the `_pq` code column (m bytes per row). */
  def encodePq(df: DataFrame, vecCol: String, model: PqModel): DataFrame = {
    val f = udf((v: Seq[Double]) => pqEncode(v.toArray, model))
    df.withColumn("_pq", f(col(vecCol).cast("array<double>")))
  }

  /** ADC query: per-subspace squared-distance lookup tables for the
    * (normalized) query are computed ONCE driver-side; each row's
    * approximate distance is m table lookups over its byte code. The
    * `shortlist` nearest by ADC are exactly rescored with true cosine. */
  def queryPq(encoded: DataFrame, vecCol: String, idCol: String,
      model: PqModel, q: Array[Float], k: Int, shortlist: Int = 500): DataFrame = {
    val qn = normalizeVec(q.map(_.toDouble))
    val lut: Array[Array[Double]] = Array.tabulate(model.m) { s =>
      model.codebooks(s).map { c =>
        var d = 0.0; var j = 0
        while (j < model.subDim) { val t = qn(s * model.subDim + j) - c(j); d += t * t; j += 1 }
        d
      }
    }
    val adc = udf((codes: Array[Byte]) => {
      var d = 0.0; var s = 0
      while (s < codes.length) { d += lut(s)(codes(s) & 0xFF); s += 1 }
      d
    })
    val short = encoded.withColumn("_adc", adc(col("_pq")))
      .orderBy(col("_adc").asc, col(idCol))
      .limit(shortlist)
    bruteForceTopK(short, vecCol, idCol, q, k)
  }

  /** Scalar quantizer (SQ8): each dimension of the L2-normalized
    * vector mapped linearly to one unsigned byte using per-dimension
    * [min,max] bounds learned in ONE exact distributed agg pass (min/
    * max are associative — no sampling, unlike PQ's Lloyd). 4× smaller
    * than float32 and complementary to PQ: SQ8 keeps full per-
    * dimension resolution (better on near-isotropic data, PQ's hard
    * regime) at a lower compression ratio. */
  final case class SqModel(mins: Array[Double], maxs: Array[Double])

  def trainSq(df: DataFrame, vecCol: String): SqModel = {
    // dim rows collect to the driver — model-sized, like PQ codebooks
    val bounds = df.select(posexplode(normalized(col(vecCol))).as(Seq("_d", "_v")))
      .groupBy(col("_d")).agg(min(col("_v")).as("_mn"), max(col("_v")).as("_mx"))
      .orderBy(col("_d"))
      .collect()
    require(bounds.nonEmpty, "trainSq: empty input")
    SqModel(bounds.map(_.getDouble(1)), bounds.map(_.getDouble(2)))
  }

  private[graft] def sqEncode(v: Array[Double], model: SqModel): Array[Byte] = {
    val norm = math.sqrt(v.map(x => x * x).sum)
    val nv = if (norm == 0.0) v else v.map(_ / norm)
    Array.tabulate(nv.length) { i =>
      val span = model.maxs(i) - model.mins(i)
      val code = if (span <= 0.0) 0
        else math.round((nv(i) - model.mins(i)) / span * 255.0).toInt
      math.max(0, math.min(255, code)).toByte
    }
  }

  /** Attach the `_sq` code column (dim bytes per row). */
  def encodeSq(df: DataFrame, vecCol: String, model: SqModel): DataFrame = {
    val f = udf((v: Seq[Double]) => sqEncode(v.toArray, model))
    df.withColumn("_sq", f(col(vecCol).cast("array<double>")))
  }

  /** Rank by dot(dequantized code, normalized query) — two flops per
    * dimension, no float vector touched — take a shortlist, exactly
    * rescore it with true cosine (same shape as queryPq). */
  def querySq(encoded: DataFrame, vecCol: String, idCol: String,
      model: SqModel, q: Array[Float], k: Int, shortlist: Int = 200): DataFrame = {
    val qn = normalizeVec(q.map(_.toDouble))
    val mins = model.mins
    val steps = Array.tabulate(mins.length)(i => (model.maxs(i) - mins(i)) / 255.0)
    val approx = udf((codes: Array[Byte]) => {
      var s = 0.0; var i = 0
      while (i < codes.length) { s += (mins(i) + (codes(i) & 0xFF) * steps(i)) * qn(i); i += 1 }
      s
    })
    val short = encoded.withColumn("_sqdot", approx(col("_sq")))
      .orderBy(col("_sqdot").desc, col(idCol))
      .limit(shortlist)
    bruteForceTopK(short, vecCol, idCol, q, k)
  }

  /** 64-bit hyperplane binarization: bit p = sign of <vec, plane_p>
    * (random-hyperplane LSH, so hamming/64 estimates the angle). 8
    * bytes per vector in place of dim floats — the memory regime a
    * multi-billion-vector corpus needs — with exact rescoring of the
    * Hamming shortlist recovering cosine precision. */
  private[graft] def bitSignature64(vec: Array[Double], seed: Long): Long = {
    val m = planeMatrix(seed, 64, vec.length)
    var sig = 0L
    var p = 0
    while (p < 64) {
      val row = m(p)
      var dot = 0.0
      var i = 0
      while (i < vec.length) { dot += vec(i) * row(i); i += 1 }
      if (dot >= 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** Attach the `_bsig` 64-bit binary signature column (precompute once,
    * like encodeSq/encodePq — the stored index is 8 bytes/vector). */
  def encodeBinary(df: DataFrame, vecCol: String, seed: Long = 42L): DataFrame = {
    val f = udf((v: Seq[Double]) => bitSignature64(v.toArray, seed))
    df.withColumn("_bsig", f(col(vecCol).cast("array<double>")))
  }

  /** Binary-hash ANN: Hamming shortlist over `_bsig` (codegen popcount
    * ordering -> TakeOrderedAndProject), exact cosine rescore of the
    * shortlist — same two-phase shape as querySq/queryPq with a 32x
    * smaller index payload. */
  def queryBinary(encoded: DataFrame, vecCol: String, idCol: String,
      q: Array[Float], k: Int, shortlist: Int = 200, seed: Long = 42L): DataFrame = {
    val qsig = bitSignature64(q.map(_.toDouble), seed)
    val short = encoded
      .withColumn("_hd", bit_count(col("_bsig").bitwiseXOR(lit(qsig))).cast("int"))
      .orderBy(col("_hd"), col(idCol))
      .limit(shortlist)
    bruteForceTopK(short, vecCol, idCol, q, k)
  }

  /** BATCH kNN join — serve N queries in ONE job instead of N driver
    * round-trips: the corpus scans once, every query rides along as a
    * broadcast, and the per-query top-k is a `row_number <= k` filter
    * that Spark 4 plans as WindowGroupLimit (each input partition keeps
    * only its local top-k per query BEFORE the exchange, so the shuffle
    * carries partitions x queries x k narrow rows, never the scored
    * cross product). This is the offline-serving shape: embedding a
    * nightly query log against a billion-vector corpus is one scan, not
    * a billion-row loop of TakeOrderedAndProject jobs.
    *
    * Exact: every (query, corpus) cosine is computed — the right
    * baseline when the query batch is small or recall must be 1.0.
    * Output: (query_id, rank 1..k, id, score), rank ordered by
    * (score desc, id) — deterministic under ties. */
  def knnJoin(queries: DataFrame, qIdCol: String, qVecCol: String,
      corpus: DataFrame, cIdCol: String, cVecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(qIdCol).cast("long").as("_qid"),
      col(qVecCol).cast("array<double>").as("_qv")))
    val scored = corpus
      .select(col(cIdCol).cast("long").as("_cid"), col(cVecCol).as("_cv"))
      .crossJoin(q) // broadcast nested loop: one corpus scan serves all queries
      .select(col("_qid"), col("_cid"),
        graft.functions.vectors.cosine(col("_cv"), col("_qv")).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_qid")).orderBy(col("score").desc, col("_cid"))
    scored.withColumn("_rn", row_number().over(w)).filter(col("_rn") <= k)
      .select(col("_qid").as("query_id"), col("_rn").cast("int").as("rank"),
        col("_cid").as("id"), col("score"))
  }

  /** [[knnJoin]] at ANN scale: the per-query candidate pass runs over
    * the 8-byte `_bsig` column ([[encodeBinary]]) — popcount against
    * each broadcast query signature, per-query Hamming shortlist via
    * the same WindowGroupLimit shape — and only the shortlisted
    * (query, id) pairs (a `queries x shortlist`-bounded set, broadcast
    * back) read full vectors for the exact cosine rescore. Per query
    * the corpus contributes 8 bytes/row to the candidate pass instead
    * of dim floats; nothing edge-sized ever shuffles.
    *
    * Approximation contract matches [[queryBinary]]: recall < 1
    * possible; `shortlist` >= corpus size recovers [[knnJoin]]
    * exactly. */
  def knnJoinBinary(queries: DataFrame, qIdCol: String, qVecCol: String,
      encoded: DataFrame, cIdCol: String, cVecCol: String, k: Int,
      shortlist: Int = 200, seed: Long = 42L): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val sigUdf = udf((v: Seq[Double]) => bitSignature64(v.toArray, seed))
    val q = broadcast(queries.select(col(qIdCol).cast("long").as("_qid"),
      col(qVecCol).cast("array<double>").as("_qv"))
      .withColumn("_qsig", sigUdf(col("_qv"))))
    val wS = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_qid")).orderBy(col("_hd"), col("_cid"))
    val pairs = encoded
      .select(col(cIdCol).cast("long").as("_cid"), col("_bsig"))
      .crossJoin(broadcast(q.select(col("_qid"), col("_qsig"))))
      .select(col("_qid"), col("_cid"),
        bit_count(col("_bsig").bitwiseXOR(col("_qsig"))).cast("int").as("_hd"))
      .withColumn("_rn", row_number().over(wS)).filter(col("_rn") <= shortlist)
      .select(col("_qid"), col("_cid"))
    val full = encoded
      .select(col(cIdCol).cast("long").as("_cid"), col(cVecCol).as("_cv"))
      .join(broadcast(pairs), Seq("_cid")) // full vectors only for candidates
      .join(broadcast(q.select(col("_qid"), col("_qv"))), Seq("_qid"))
      .select(col("_qid"), col("_cid"),
        graft.functions.vectors.cosine(col("_cv"), col("_qv")).as("score"))
    val wK = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_qid")).orderBy(col("score").desc, col("_cid"))
    full.withColumn("_rn", row_number().over(wK)).filter(col("_rn") <= k)
      .select(col("_qid").as("query_id"), col("_rn").cast("int").as("rank"),
        col("_cid").as("id"), col("score"))
  }

  /** Persist a partition-pruned Hamming index: each row explodes into
    * `maxDist + 1` band rows and lands in the directory for
    * (band, bandValue % buckets) — so a radius query reads exactly
    * `maxDist + 1` directories (one probed bucket per band) out of
    * `(maxDist+1) * buckets`, and the probe IS partition pruning, the
    * same layout discipline as the LSH bucket index. Sound: a true
    * match equals the query on >= 1 full band value (pigeonhole),
    * which implies the same bucket; stored signatures exact-verify. */
  /** (_hid, _hsig, _band, _bv) band rows over the `maxDist + 1`
    * balanced bands — the shared explode behind the persisted Hamming
    * index writers and probes. */
  private def hammingBandRows(df: DataFrame, sigCol: String, idCol: String,
      maxDist: Int): DataFrame = {
    val nb = maxDist + 1
    df.select(col(idCol).as("_hid"), col(sigCol).as("_hsig"))
      .select(col("_hid"), col("_hsig"),
        posexplode(array((0 until nb).map { i =>
          val off = i * 64 / nb
          val width = (i + 1) * 64 / nb - off
          val mask = if (width == 64) -1L else (1L << width) - 1
          shiftrightunsigned(col("_hsig"), off).bitwiseAND(lit(mask))
        }: _*)).as(Seq("_band", "_bv")))
  }

  def writeHammingIndex(df: DataFrame, sigCol: String, idCol: String,
      path: String, maxDist: Int, buckets: Int = 64): Unit = {
    require(maxDist >= 0 && maxDist < 64, s"maxDist $maxDist out of range")
    hammingBandRows(df, sigCol, idCol, maxDist)
      .withColumn("_bkt", pmod(col("_bv"), lit(buckets.toLong)).cast("int"))
      // one narrow shuffle on the partition columns buys ONE file per
      // (band, bucket) directory; a direct partitionBy write emits up
      // to tasks x directories files — millions at cluster scale, and
      // the dominant cost of the build even locally. Count pinned
      // (r21, guide §2.4): unpinned, AQE coalesces a small build to
      // ONE task that writes every directory serially; capped at
      // 4x parallelism so a wide layout doesn't explode task count.
      .repartition(math.min((maxDist + 1) * buckets,
        4 * df.sparkSession.sparkContext.defaultParallelism).max(1),
        col("_band"), col("_bkt"))
      .write.mode("overwrite").partitionBy("_band", "_bkt").parquet(path)
    // a full rewrite DEFINES the layout: record it for probes to
    // resolve/validate against, replacing any previous index's record
    LayoutMeta.overwrite(df.sparkSession, path,
      Map("maxDist" -> maxDist, "buckets" -> buckets))
  }

  /** Append band rows to a [[writeHammingIndex]]-layout index, plus one
    * ID row per input row under the RESERVED BAND -1, bucketed by
    * xxhash64(id). Radius/batch probes only ever touch bands
    * 0..maxDist, so id rows never pollute a signature match; id-
    * existence probes ([[probeHammingIndexIds]]) read only the band -1
    * buckets a batch hashes to. Null signatures contribute an id row
    * only — an undecodable blob is nobody's near-duplicate, but its id
    * is still taken. The incremental-maintenance form streaming
    * dedup-on-ingest appends per accepted micro-batch.
    *
    * `maxDist`/`buckets` default to [[LayoutMeta.Unspecified]]: the
    * written index's `_META` record wins (falling back to 8/64 on
    * first creation), and an explicitly passed value that CONFLICTS
    * with the record throws instead of silently corrupting the
    * layout. */
  def appendHammingIndexWithIds(df: DataFrame, sigCol: String, idCol: String,
      path: String, maxDist: Int = LayoutMeta.Unspecified,
      buckets: Int = LayoutMeta.Unspecified): Unit = {
    val p = LayoutMeta.resolve(df.sparkSession, path,
      Map("maxDist" -> maxDist, "buckets" -> buckets),
      Map("maxDist" -> 8, "buckets" -> 64))
    val md = p("maxDist"); val bk = p("buckets")
    require(md >= 0 && md < 64, s"maxDist $md out of range")
    val bands = hammingBandRows(df.filter(col(sigCol).isNotNull), sigCol, idCol, md)
      .withColumn("_bkt", pmod(col("_bv"), lit(bk.toLong)).cast("int"))
    val idRows = df.select(col(idCol).as("_hid"), col(sigCol).cast("long").as("_hsig"))
      .withColumn("_band", lit(-1))
      .withColumn("_bv", lit(0L))
      .withColumn("_bkt", pmod(xxhash64(col("_hid")), lit(bk.toLong)).cast("int"))
    bands.select("_hid", "_hsig", "_bv", "_band", "_bkt")
      .unionByName(idRows.select("_hid", "_hsig", "_bv", "_band", "_bkt"))
      // same discipline as [[writeHammingIndex]]: one file per touched
      // directory per append, not tasks x directories — this is what
      // keeps [[compactHammingIndex]]'s backlog linear in batches.
      // Count pinned — see writeHammingIndex (r21).
      .repartition(math.min((md + 2) * bk,
        4 * df.sparkSession.sparkContext.defaultParallelism).max(1),
        col("_band"), col("_bkt"))
      .write.mode("append").partitionBy("_band", "_bkt").parquet(path)
    // record the layout AFTER data lands (a crash here leaves a
    // pre-META index, which probes tolerate exactly as before)
    LayoutMeta.commit(df.sparkSession, path, p)
  }

  /** Compact a [[writeHammingIndex]] / [[appendHammingIndexWithIds]]
    * layout IN PLACE: every (band, bucket) directory holding more than
    * `minFiles` parquet part-files is rewritten into one file, rows
    * preserved exactly. Streaming dedup-on-ingest appends one small
    * file per touched directory per micro-batch, so without occasional
    * compaction a probe that is O(directories) in theory degrades to
    * O(batches) in file opens — the classic streaming small-file
    * problem. One Spark job covers all flagged directories (basePath
    * read keeps the partition columns; repartition on them yields one
    * output file per directory). The swap MOVES the new file in before
    * deleting the old ones: a crash mid-swap leaves duplicate rows,
    * which every probe/query distincts away — missing rows can never
    * occur. Run between batches (not concurrent with an ingest
    * appending to the same directories). Returns the number of
    * directories compacted. */
  def compactHammingIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, minFiles: Int = 8): Int = {
    import org.apache.hadoop.fs.Path
    val hconf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(hconf)
    if (!fs.exists(root)) return 0
    def dataFiles(dir: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(dir).toSeq.filter { f =>
        val n = f.getPath.getName
        f.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
    val flagged = fs.globStatus(new Path(root, "_band=*/_bkt=*")).toSeq
      .map(_.getPath).filter(d => dataFiles(d).size > minFiles)
    if (flagged.isEmpty) return 0
    val tmp = new Path(root, "_compact_tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true) // stale from a prior crash
    spark.read.option("basePath", path)
      .parquet(flagged.map(_.toString): _*)
      .repartition(flagged.size, col("_band"), col("_bkt"))
      .write.partitionBy("_band", "_bkt").parquet(tmp.toString)
    var compacted = 0
    flagged.foreach { dir =>
      val olds = dataFiles(dir)
      val newDir = new Path(new Path(tmp, dir.getParent.getName), dir.getName)
      // A flagged directory whose part files all hold zero rows writes no
      // tmp output at all — treat the missing directory as "nothing to
      // move" and KEEP the old files (deleting them without a landed
      // replacement could drop rows if the emptiness read was wrong).
      val moves =
        if (fs.exists(newDir)) dataFiles(newDir).map { f =>
          fs.rename(f.getPath, new Path(dir, "compact-" + f.getPath.getName))
        }
        else Seq.empty[Boolean]
      // Delete the originals ONLY when every replacement landed — rename
      // returns false (not throws) on dest-exists / object-store races,
      // and a partial move must leave duplicate rows (old + compact file,
      // which every probe distincts away), never missing rows. Unmoved
      // replacements die with tmp below; the originals still hold them.
      if (moves.nonEmpty && moves.forall(identity)) {
        olds.foreach(f => fs.delete(f.getPath, false))
        compacted += 1
      }
    }
    fs.delete(tmp, true)
    compacted
  }

  /** Batch-vs-index Hamming match over a persisted index: all
    * (batch id, index id) pairs within `maxDist`. The batch's distinct
    * (band, bucket) keys are collected to the driver — bounded by
    * (maxDist+1) * buckets literals regardless of batch size — and
    * become a PARTITION-COLUMN-ONLY disjunction, so the scan statically
    * prunes to exactly the directories the batch hashes into (per-batch
    * I/O is O(probed directories), never an index scan). Candidates
    * equijoin on the full band value and popcount-verify. Returns
    * (idCol, _hid, _dist); `maxDist`/`buckets` resolve from the written
    * layout's `_META` (explicit conflicting values throw — a mismatched
    * probe would prune the wrong directories and silently miss). */
  def probeHammingIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, sigCol: String, idCol: String,
      maxDist: Int = LayoutMeta.Unspecified,
      buckets: Int = LayoutMeta.Unspecified): DataFrame = {
    val p = LayoutMeta.resolve(spark, path,
      Map("maxDist" -> maxDist, "buckets" -> buckets),
      Map("maxDist" -> 8, "buckets" -> 64))
    val md = p("maxDist"); val bk = p("buckets")
    require(md >= 0 && md < 64, s"maxDist $md out of range")
    val banded = hammingBandRows(batch.filter(col(sigCol).isNotNull),
        sigCol, idCol, md)
      .withColumn("_bkt", pmod(col("_bv"), lit(bk.toLong)).cast("int"))
      .select(col("_hid").as(idCol), col("_hsig").as("_qsig"),
        col("_band"), col("_bv"), col("_bkt"))
      .localCheckpoint(true) // reused: key collect + candidate join
    val keys = banded.select(col("_band"), col("_bkt")).distinct()
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    // partition probe stays PURE over partition columns (same
    // discipline as queryHammingIndex) so pruning actually fires;
    // an empty batch reads zero partitions via the false predicate
    val probe =
      if (keys.isEmpty) lit(false)
      else keys.map { case (b, k) =>
        col("_band") === b && col("_bkt") === k
      }.reduce(_ || _)
    spark.read.parquet(path).filter(probe)
      .join(banded, Seq("_band", "_bkt", "_bv"))
      .select(col(idCol), col("_hid"), col("_qsig"), col("_hsig"))
      .distinct() // a close pair can share several bands
      .withColumn("_dist",
        bit_count(col("_qsig").bitwiseXOR(col("_hsig"))).cast("int"))
      .filter(col("_dist") <= md)
      .select(col(idCol), col("_hid"), col("_dist"))
  }

  /** Id-existence probe over the reserved band -1 rows of an
    * [[appendHammingIndexWithIds]] index: which of `ids`' values are
    * already taken. Reads only the id buckets the batch hashes to
    * (literal partition predicate, like [[probeHammingIndex]]).
    * Returns the matching ids as a single `idCol` column. `buckets`
    * resolves from / validates against the index `_META`. */
  def probeHammingIndexIds(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: DataFrame, idCol: String,
      buckets: Int = LayoutMeta.Unspecified): DataFrame = {
    val bk = LayoutMeta.resolve(spark, path,
      Map("buckets" -> buckets), Map("buckets" -> 64))("buckets")
    val hashed = ids.select(col(idCol))
      .withColumn("_bkt", pmod(xxhash64(col(idCol)), lit(bk.toLong)).cast("int"))
      .localCheckpoint(true)
    val keys = hashed.select(col("_bkt")).distinct().collect().map(_.getInt(0))
    val probe =
      if (keys.isEmpty) lit(false)
      else col("_band") === -1 && col("_bkt").isin(keys.map(Integer.valueOf): _*)
    spark.read.parquet(path).filter(probe)
      .select(col("_hid").as(idCol), col("_bkt"))
      .join(hashed, Seq(idCol, "_bkt"))
      .select(col(idCol)).distinct()
  }

  /** Radius query over a [[writeHammingIndex]] layout: literal
    * (band, bucket) equality filters prune the scan to `maxDist + 1`
    * directories, candidates dedupe on (id, sig), popcount verifies.
    * `maxDist`/`buckets` resolve from / validate against the written
    * layout's `_META`. */
  def queryHammingIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      query: Long, maxDist: Int = LayoutMeta.Unspecified,
      buckets: Int = LayoutMeta.Unspecified): DataFrame = {
    val p = LayoutMeta.resolve(spark, path,
      Map("maxDist" -> maxDist, "buckets" -> buckets),
      Map("maxDist" -> 8, "buckets" -> 64))
    val md = p("maxDist"); val bk = p("buckets")
    require(md >= 0 && md < 64, s"maxDist $md out of range")
    val nb = md + 1
    val bandVals = (0 until nb).map { i =>
      val off = i * 64 / nb
      val width = (i + 1) * 64 / nb - off
      val mask = if (width == 64) -1L else (1L << width) - 1
      (query >>> off) & mask
    }
    // partition probe must stay PURE over partition columns — folding
    // the _bv data column into the disjunction would make the whole OR
    // unprunable and scan every directory
    // floorMod matches the writer's SQL pmod: with maxDist=0 the single
    // band is the whole signature (mask -1), so a negative signature would
    // give a negative Scala `%` here but a non-negative pmod bucket on disk
    val partProbe = bandVals.zipWithIndex.map { case (bv, i) =>
      col("_band") === i &&
        col("_bkt") === java.lang.Math.floorMod(bv, bk.toLong).toInt
    }.reduce(_ || _)
    val dataProbe = bandVals.zipWithIndex.map { case (bv, i) =>
      col("_band") === i && col("_bv") === bv // drop modulo collisions
    }.reduce(_ || _)
    spark.read.parquet(path)
      .filter(partProbe && dataProbe)
      .select(col("_hid"), col("_hsig")).distinct() // a match can share bands
      .withColumn("_dist",
        bit_count(col("_hsig").bitwiseXOR(lit(query))).cast("int"))
      .filter(col("_dist") <= md)
  }

  /** Hamming-space top-k over a 64-bit signature column (dHash,
    * simhash, or any binarized embedding): distance is the codegen'd
    * `bit_count(sig XOR query)` — no UDF — and (dist, id) ordering +
    * LIMIT plans as TakeOrderedAndProject, so the scan is one pass with
    * per-partition heaps, never a global sort. */
  def hammingTopK(df: DataFrame, sigCol: String, idCol: String,
      query: Long, k: Int): DataFrame =
    df.withColumn("_dist",
        bit_count(col(sigCol).bitwiseXOR(lit(query))).cast("int"))
      .orderBy(col("_dist"), col(idCol))
      .limit(k)

  /** Hamming similarity JOIN: all pairs (a, b) with a.id < b.id and
    * bit_count(a.sig XOR b.sig) <= maxDist — the all-pairs shape of
    * image/simhash near-dup at corpus scale. Same sound pigeonhole as
    * [[hammingWithin]], but as an EQUIJOIN: both sides explode into
    * (band, bandValue) keys, matching pairs shuffle-join on the exact
    * band value (never a cartesian), distinct-dedupe (a pair can share
    * several bands), then popcount-verify. Costs shrink with wider
    * bands, so small maxDist is the economical regime (8-bit bands at
    * maxDist 7); for loose radii prefer [[hammingWithin]] per query.
    * Returns (idCol, idCol_b, _dist). */
  def hammingJoin(df: DataFrame, sigCol: String, idCol: String,
      maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist < 64, s"maxDist $maxDist out of range")
    val nb = maxDist + 1
    val banded = df.select(col(idCol).as("_hid"), col(sigCol).as("_hsig"))
      .select(col("_hid"), col("_hsig"),
        posexplode(array((0 until nb).map { i =>
          val off = i * 64 / nb
          val width = (i + 1) * 64 / nb - off
          val mask = if (width == 64) -1L else (1L << width) - 1
          shiftrightunsigned(col("_hsig"), off).bitwiseAND(lit(mask))
        }: _*)).as(Seq("_band", "_bv")))
    val l = banded.select(col("_band"), col("_bv"),
      col("_hid").as(idCol), col("_hsig").as("_siga"))
    val r = banded.select(col("_band"), col("_bv"),
      col("_hid").as(s"${idCol}_b"), col("_hsig").as("_sigb"))
    l.join(r, Seq("_band", "_bv"))
      .filter(col(idCol) < col(s"${idCol}_b"))
      .select(col(idCol), col(s"${idCol}_b"), col("_siga"), col("_sigb"))
      .distinct() // a close pair can share several bands
      .withColumn("_dist",
        bit_count(col("_siga").bitwiseXOR(col("_sigb"))).cast("int"))
      .filter(col("_dist") <= maxDist)
      .drop("_siga", "_sigb")
  }

  /** Cross-dataset variant of [[hammingJoin]]: all (left, right) pairs
    * within `maxDist`, banded-equijoin pruned the same way (no a < b
    * filter — sides are distinct datasets). Returns (idColL, idColR,
    * _dist); id columns must be differently named. The query-batch-vs-
    * corpus shape (streaming image dedup-on-ingest uses it). */
  def hammingJoinBetween(left: DataFrame, leftSig: String, leftId: String,
      right: DataFrame, rightSig: String, rightId: String,
      maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist < 64, s"maxDist $maxDist out of range")
    require(leftId != rightId, "id columns must be differently named")
    val nb = maxDist + 1
    def banded(df: DataFrame, sigCol: String, idCol: String, sigOut: String) =
      df.select(col(idCol), col(sigCol).as(sigOut),
        posexplode(array((0 until nb).map { i =>
          val off = i * 64 / nb
          val width = (i + 1) * 64 / nb - off
          val mask = if (width == 64) -1L else (1L << width) - 1
          shiftrightunsigned(col(sigCol), off).bitwiseAND(lit(mask))
        }: _*)).as(Seq("_band", "_bv")))
    val l = banded(left, leftSig, leftId, "_siga")
    val r = banded(right, rightSig, rightId, "_sigb")
    l.join(r, Seq("_band", "_bv"))
      .select(col(leftId), col(rightId), col("_siga"), col("_sigb"))
      .distinct()
      .withColumn("_dist",
        bit_count(col("_siga").bitwiseXOR(col("_sigb"))).cast("int"))
      .filter(col("_dist") <= maxDist)
      .drop("_siga", "_sigb")
  }

  /** All rows within Hamming distance `maxDist` of `query`, with a
    * SOUND pigeonhole prune: the 64 bits split into `maxDist + 1`
    * bands, and any signature within `maxDist` must match the query
    * EXACTLY on at least one band (fewer diffs than bands). The band-
    * equality disjunction is a pure column predicate — at scale, store
    * band values as columns and the disjunction becomes partition/
    * bucket pruning; here it already skips the popcount on ~all
    * non-candidates. Survivors are verified with exact bit_count. */
  def hammingWithin(df: DataFrame, sigCol: String, query: Long,
      maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist < 64, s"maxDist $maxDist out of range")
    val nb = maxDist + 1
    // balanced split: band i covers bits [i*64/nb, (i+1)*64/nb) — every
    // band is non-empty for nb <= 64, which the pigeonhole NEEDS (an
    // empty band would "match" nothing and break the candidate
    // guarantee a ceil-width split has for large maxDist)
    val bandEq = (0 until nb).map { i =>
      val off = i * 64 / nb
      val width = (i + 1) * 64 / nb - off
      val mask = if (width == 64) -1L else (1L << width) - 1
      shiftrightunsigned(col(sigCol), off).bitwiseAND(lit(mask)) ===
        lit((query >>> off) & mask)
    }.reduce(_ || _)
    df.filter(bandEq)
      .withColumn("_dist",
        bit_count(col(sigCol).bitwiseXOR(lit(query))).cast("int"))
      .filter(col("_dist") <= maxDist)
  }
}
