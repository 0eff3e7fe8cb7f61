package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication suite for large-scale training-data pipelines
  * (BASELINE north star; SURVEY.md §2.F Q6).
  *
  * All variants share one scale shape:
  *   1. per-row signature (narrow, codegen/UDF — no shuffle);
  *   2. candidate buckets from narrow (id, bucket) rows — ids only;
  *      a count pre-pass keeps just buckets with >= 2 members, so on
  *      benign corpora (mostly-singleton buckets) payloads for the
  *      overwhelming majority of rows are never shuffled at all;
  *   3. exact verification. Keep-first variants verify IN-BUCKET:
  *      payloads are hash-joined onto surviving rows and checked locally
  *      per bucket group (sorted by id, early-exit scan) — candidate
  *      *pairs* are never materialized, which keeps adversarially
  *      self-similar corpora (boilerplate/templates, where pair counts
  *      explode quadratically) from generating a pair shuffle at all.
  *      The cluster variant also verifies in-bucket (measured: on
  *      template corpora distinct candidate pairs far outnumber bucket
  *      rows, so per-pair payload joins shuffle more, not less);
  *   4. keep-first: a doc is dropped iff a smaller-keyed verified
  *      duplicate exists (left-anti against the drop set).
  *
  * Determinism: all hashes are splitmix64 with fixed seeds — no
  * sampling, no fitting, same result on every run and every cluster
  * layout. Skew safety: boilerplate buckets (the same shingle in
  * millions of docs) are the classic quadratic blowup; the n-gram
  * variant avoids them *exactly* via rarity-ordered prefix filtering
  * (AllPairs, Bayardo et al., WWW'07), the probabilistic variants cap
  * candidate buckets at `maxBucketSize`.
  *
  * Ids must be integral (castable to long); string ids should be mapped
  * to surrogates first (e.g. [[Ids.contiguous]]).
  */
object Dedup {

  // ---------- signatures (pure functions, usable from any engine) ----------

  private[graft] def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  private def tokenize(text: String): Array[String] =
    if (text == null) Array.empty
    else text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)

  /** Distinct hashed k-token shingles, ascending — sorted sets make the
    * in-bucket verify a linear merge-intersection. */
  private[graft] def shingleHashes(text: String, k: Int): Array[Long] = {
    val toks = tokenize(text)
    val arr =
      if (toks.length < k) {
        if (toks.isEmpty) Array.empty[Long]
        else Array(splitmix64(toks.mkString(" ").hashCode.toLong))
      } else {
        val out = new scala.collection.mutable.HashSet[Long]
        var i = 0
        while (i + k <= toks.length) {
          var h = 1125899906842597L
          var j = i
          while (j < i + k) { h = h * 31 + toks(j).hashCode; j += 1 }
          out += splitmix64(h)
          i += 1
        }
        out.toArray
      }
    java.util.Arrays.sort(arr)
    arr
  }

  /** Exact Jaccard >= t on two sorted distinct arrays — O(|a|+|b|) merge.
    *
    * Length short-circuit (r22, guide §2.3 — decide with small values
    * before touching payloads), PROVABLY lossless: the sets are
    * distinct, so inter <= min(|a|,|b|) and uni >= max(|a|,|b|), hence
    * J = inter/uni <= min/max in the reals; correctly-rounded double
    * division is monotone, so fl(inter/uni) <= fl(min/max) — whenever
    * the full check would pass (fl(inter/uni) >= t), fl(min/max) >= t
    * holds too and the shortcut never fires. A pair of empty sets has
    * min/max = NaN, which fails the >= like the full check's uni > 0
    * guard. In-bucket verify is s^2/2 pair calls; the O(1) ratio test
    * skips the O(|a|+|b|) merge for every length-incompatible pair —
    * the dominant false-candidate class on mixed-length corpora. */
  private[graft] def jaccardGE(a: Array[Long], b: Array[Long], t: Double): Boolean = {
    val min = math.min(a.length, b.length).toDouble
    val max = math.max(a.length, b.length).toDouble
    if (!(min / max >= t)) return false
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    val uni = a.length + b.length - inter
    uni > 0 && inter.toDouble / uni >= t
  }

  /** MinHash signature via the Kirsch-Mitzenmacher construction:
    * h_i(s) = a(s) + i*b(s) from two splitmix64 streams — 2 hashes per
    * shingle instead of `numHashes`, same collision statistics. */
  private[graft] def minhashSig(shingles: Array[Long], numHashes: Int, seed: Long): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < shingles.length) {
      val s = shingles(i)
      val a = splitmix64(s ^ seed)
      val b = splitmix64(s ^ seed ^ 0x5851F42D4C957F2DL) | 1L
      var h = 0
      var v = a
      while (h < numHashes) {
        if (v < sig(h)) sig(h) = v
        v += b
        h += 1
      }
      i += 1
    }
    sig
  }

  /** 64-bit SimHash over token frequencies. */
  private[graft] def simhash64(text: String): Long = {
    val acc = new Array[Int](64)
    tokenize(text).foreach { tok =>
      val h = splitmix64(tok.hashCode.toLong)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  // ---------- column surface ----------

  def shingleCol(text: Column, k: Int = 3): Column = {
    val f = udf((t: String) => shingleHashes(t, k))
    f(text)
  }

  /** One band hash per band, computed in a SINGLE UDF call: signature +
    * all band mixes in one pass. (An `array(bands x xxhash64(slice(udf..`
    * column would re-evaluate the signature UDF once per band — subexpr
    * elimination does not reach under a generator.) */
  def bandedMinhashCol(shingles: Column, numHashes: Int, bands: Int, seed: Long): Column = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val f = udf((s: Seq[Long]) => {
      val sig = minhashSig(s.toArray, numHashes, seed)
      Array.tabulate(bands) { b =>
        var h = splitmix64(seed ^ b.toLong)
        var i = b * r
        while (i < (b + 1) * r) { h = splitmix64(h ^ sig(i)); i += 1 }
        h
      }
    })
    f(shingles)
  }

  def simhashCol(text: Column): Column = {
    val f = udf((t: String) => simhash64(t))
    f(text)
  }

  /** Exact Jaccard over two distinct-element arrays — built-ins,
    * codegen'd. |A∪B| = |A|+|B|-|A∩B| from sizes: one intersection, no
    * union materialization (half the per-pair work in verify loops). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = (size(a) + size(b)).cast("double") - inter
    when(uni === 0, 0.0).otherwise(inter / uni)
  }

  // ---------- dedup pipelines ----------

  /** Exact dedup: keep the smallest key per identical text. Partitioning
    * by the text column itself shuffles by its hash but groups rows by
    * full value equality — a 64-bit hash collision between two distinct
    * texts (realistic at billions of docs) can NOT drop a non-duplicate,
    * unlike a groupBy on xxhash64(text) alone. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(col(textCol)).orderBy(col(idCol))
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** Incremental EXACT dedup of a batch against a stored corpus with a
    * Bloom prefilter — the 100-TB shape for "is this document already in
    * the training set?": the corpus is scanned ONCE to build a Bloom
    * filter over content hashes (reusable across batches, like the
    * minhash signature sidecar), then
    *   - batch rows whose hash MISSES the filter are provably new
    *     (Bloom has no false negatives) and skip the corpus join
    *     entirely — at steady state that is almost the whole batch;
    *   - only Bloom HITS (true dups + ~fpp false positives) take the
    *     exact left-anti verify join against the corpus, on the FULL
    *     text (collision-safe, same reasoning as [[exact]]).
    * Result is therefore EXACT regardless of fpp: the filter only sizes
    * the verify join (|hits| instead of |batch|), trading broadcast
    * memory (~1.2 GB per billion corpus docs at 1% fpp) against join
    * width. Batch-internal duplicates are NOT collapsed — that is
    * [[exact]]'s job on the batch itself.
    * `expectedItems <= 0` counts the corpus (one extra job; pass the
    * known count at scale). */
  def exactAgainstBloom(
      corpus: DataFrame,
      batch: DataFrame,
      textCol: String,
      expectedItems: Long = 0L,
      fpp: Double = 0.01): DataFrame = {
    val spark = corpus.sparkSession
    val n = if (expectedItems > 0) expectedItems else math.max(1L, corpus.count())
    val bf = corpus.select(xxhash64(col(textCol)).as("_h")).stat.bloomFilter("_h", n, fpp)
    val bcast = spark.sparkContext.broadcast(bf)
    val mightContain = udf { (h: Long) => bcast.value.mightContainLong(h) }
    // null text: xxhash64(null) is null and the primitive-Long UDF is skipped,
    // yielding a null hit flag that would fail BOTH branch filters — coalesce to
    // false so null-text rows take the fresh branch, matching the NOT-EXISTS
    // oracle (whose anti-join null keys never match and are kept).
    val withHit = batch.withColumn("_bloom_hit",
      coalesce(mightContain(xxhash64(col(textCol))), lit(false)))
    val freshByMiss = withHit.filter(!col("_bloom_hit")).drop("_bloom_hit")
    val verified = withHit.filter(col("_bloom_hit")).drop("_bloom_hit")
      .join(corpus.select(col(textCol)).distinct(), Seq(textCol), "left_anti")
      .select(freshByMiss.columns.toIndexedSeq.map(col): _*) // align column order for union
    freshByMiss.unionAll(verified)
  }

  /** MinHash + LSH banding near-dedup.
    * numHashes = bands * rowsPerBand. A pair becomes a candidate iff some
    * band of their signatures matches exactly; candidates are verified
    * with exact Jaccard >= threshold on shingles. */
  def minhash(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      numHashes: Int = 128,
      bands: Int = 32,
      threshold: Double = 0.5,
      seed: Long = 42L,
      maxBucketSize: Int = 10000): DataFrame = {
    // checkpointed: the shingle UDF output feeds banding, the payload
    // join and (via lineage) the final anti-join — pin it once
    val sh = df.select(col(idCol).cast("long").as("_id"),
      shingleCol(col(textCol), k).as("_sh")).localCheckpoint(true)

    // narrow banding: (id, bucket) only — shingles stay out of this pass;
    // the band ordinal is mixed into the hash, so the hash IS the bucket
    val banded = sh.select(col("_id"),
      explode(bandedMinhashCol(col("_sh"), numHashes, bands, seed)).as("_bk"))
    val drops = shingleDrops(banded, sh, maxBucketSize, threshold)
    df.join(drops, df(idCol).cast("long") === col("_drop"), "left_anti")
  }

  /** Cluster (transitive) MinHash dedup: verified duplicate PAIRS feed
    * [[Graph.connectedComponents]]; everything except each component's
    * minimum id is dropped. Differs from pairwise keep-first exactly on
    * chains whose middle node carries a larger id than an endpoint
    * (a=1 ~ b=3 ~ c=2 with no a~c edge: pairwise keeps {1,2}; clusters
    * keep {1}) — the semantics training-data dedup usually wants.
    *
    * Knob note — why 192/64 (r=3) and not the pairwise default 128/32
    * (r=4): transitive clustering needs EVERY true edge (a missed edge
    * splits a component; there is no second chance via another pair the
    * way keep-first dedup gets one). Candidate-capture probability at
    * the J=0.5 threshold is 1-(1-J^r)^bands: r=3 -> 0.9998, r=4 ->
    * 0.873. Measured (round 9, q75 corpus): 128/32 leaves 399/395/3893
    * survivors vs 192/64's 377/375/3702 at sf0.001/0.01/0.1 — it
    * misses ~5% of true edges at every scale while saving only ~1.3s
    * at sf0.1. The heavier signature is a requirement of the exactness
    * contract, not a tuning miss. */
  def minhashClusters(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      numHashes: Int = 192,
      bands: Int = 64,
      threshold: Double = 0.5,
      seed: Long = 42L,
      maxBucketSize: Int = 10000): DataFrame = {
    val edges = minhashEdges(df, idCol, textCol, k, numHashes, bands,
      threshold, seed, maxBucketSize)
    val drops = Graph.connectedComponents(edges, "_a", "_b")
      .filter(col("node") =!= col("component"))
      .select(col("node").as("_drop"))
    df.join(drops, df(idCol).cast("long") === col("_drop"), "left_anti")
  }

  /** Verified near-duplicate EDGES (_a, _b) — the shared front half of
    * the cluster family. Verify IN-BUCKET (like the keep-first
    * variants, minus the early exit — the full edge set is needed).
    * Measured alternative for the record: distinct-ing candidate PAIRS
    * first then verifying each once looks cheaper (a true pair shares
    * ~bands*J^r buckets), but on template-heavy corpora banding emits
    * far more distinct low-J candidate pairs than bucket-membership
    * rows (3.8M pairs vs 284k packed rows at sf0.1), so joining
    * payloads per-pair shuffles ~13x MORE bytes than packing them per
    * bucket row. Bucket-local verify re-checks a duplicate pair once
    * per shared band, but those are the rare rows — the false
    * candidates dominate, and they are checked once or twice either
    * way. */
  private def minhashEdges(df: DataFrame, idCol: String, textCol: String,
      k: Int, numHashes: Int, bands: Int, threshold: Double, seed: Long,
      maxBucketSize: Int): DataFrame = {
    val sh = df.select(col(idCol).cast("long").as("_id"),
      shingleCol(col(textCol), k).as("_sh")).localCheckpoint(true)
    val banded = sh.select(col("_id"),
      explode(bandedMinhashCol(col("_sh"), numHashes, bands, seed)).as("_bk"))
    val spark = df.sparkSession
    import spark.implicits._
    val packed = packBuckets(banded, sh, maxBucketSize)
      .select(col("_bk"), col("_id"), col("_sh")).as[(Long, Long, Array[Long])]
    val t = threshold
    bucketVerifiedPairs[Array[Long]](packed, (a, b) => jaccardGE(a, b, t))
  }

  /** [[minhashClusters]] with REPRESENTATIVE SELECTION: keep the
    * best-`score` member of every near-duplicate cluster instead of
    * the smallest id — what curation actually wants (FineWeb-class
    * pipelines keep the longest/highest-quality copy of a template
    * family, not the one that happened to crawl first). Ties break on
    * the smaller id, so selection is total and engine-replayable.
    * Same banded/bucketed edge construction, one connected-components
    * pass, then a per-cluster top-1 window (partitioned by component —
    * never a one-task window); singletons are their own cluster and
    * always survive. */
  def minhashClustersBest(df: DataFrame, idCol: String, textCol: String,
      score: Column,
      k: Int = 3,
      numHashes: Int = 192,
      bands: Int = 64,
      threshold: Double = 0.5,
      seed: Long = 42L,
      maxBucketSize: Int = 10000): DataFrame = {
    val edges = minhashEdges(df, idCol, textCol, k, numHashes, bands,
      threshold, seed, maxBucketSize)
    val cc = Graph.connectedComponents(edges, "_a", "_b")
    val members = df
      .select(col(idCol).cast("long").as("_node"), score.as("_score"))
      .join(cc.select(col("node").as("_node"), col("component")),
        Seq("_node"), "left")
      .withColumn("_comp", coalesce(col("component"), col("_node")))
    val keepers = members
      .withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("_comp"))
          .orderBy(col("_score").desc, col("_node"))))
      .filter(col("_rn") === 1)
      .select(col("_node").as("_keep"))
    df.join(keepers, df(idCol).cast("long") === col("_keep"), "left_semi")
  }

  /** Per-doc MinHash signatures, computed ONCE and storable: (_id,
    * _sh: sorted shingle hashes, _bks: one band-bucket key per band).
    * [[minhashAgainstPrepared]] consumes this shape for both sides, so
    * a rolling pipeline persists it at accept time instead of
    * re-shingling the corpus every batch. */
  def prepareMinhash(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      numHashes: Int = 192,
      bands: Int = 64,
      seed: Long = 42L): DataFrame =
    df.select(col(idCol).cast("long").as("_id"),
        shingleCol(col(textCol), k).as("_sh"))
      .withColumn("_bks", bandedMinhashCol(col("_sh"), numHashes, bands, seed))

  /** Asymmetric (incremental-ingest) MinHash dedup: drop every BATCH doc
    * with a verified near-duplicate in the CORPUS — the shape a rolling
    * training-data pipeline needs (dedup today's crawl against the
    * already-ingested 100 TB without re-deduping the corpus).
    *
    * Ids must be disjoint across the two sides (payloads are re-joined
    * by id). Convenience form — computes both sides' signatures; a
    * repeated-batch pipeline should compute the corpus side once via
    * [[prepareMinhash]] and call [[minhashAgainstPrepared]]. */
  def minhashAgainst(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      numHashes: Int = 192,
      bands: Int = 64,
      threshold: Double = 0.5,
      seed: Long = 42L,
      maxBucketSize: Int = 10000): DataFrame = {
    // pin the corpus prep: minhashAgainstPrepared reads it twice
    // (banding + payload slice). A stored signature table pays two
    // SCANS there; this ad-hoc lineage would pay the shingle UDF twice.
    val cp = prepareMinhash(corpus, idCol, textCol, k, numHashes, bands, seed)
      .localCheckpoint(true)
    val drops = minhashAgainstPrepared(cp,
      prepareMinhash(batch, idCol, textCol, k, numHashes, bands, seed),
      threshold, maxBucketSize)
    // anti-join on the DROP set (not semi on kept): rows whose id casts
    // to null can never be verified duplicates, so they pass through —
    // same semantics as every other dedup variant
    batch.join(drops, batch(idCol).cast("long") === drops("_drop"), "left_anti")
  }

  /** Core of [[minhashAgainst]] over prepared signatures.
    *
    * Scale shape, per batch: the batch's band buckets (a small distinct
    * set) are BROADCAST against the corpus banding, so corpus rows
    * never shuffle unless a batch doc landed in their bucket; the
    * bucket-size valve is applied to the surviving slice (identical
    * contents to counting the full bucket — a bucket without a batch
    * row was never eligible); shingle payloads are joined only for ids
    * inside surviving buckets (corpus payload scan is broadcast-
    * filtered, not shuffled). Verification is in-bucket with early exit
    * per batch doc. Residual per-batch cost is one columnar scan of the
    * corpus signature table — no UDF re-computation, no corpus shuffle;
    * when even that scan must go, [[MinhashIndex]] persists the same
    * signatures bucket-partitioned and [[MinhashIndex.drops]] probes
    * only the directories the batch hashes into.
    *
    * @return DROPPED batch ids as a single `_drop` column (callers
    *         left-anti join it so null-id rows pass through). */
  def minhashAgainstPrepared(
      corpusPrep: DataFrame,
      batchPrep: DataFrame,
      threshold: Double = 0.5,
      maxBucketSize: Int = 10000): DataFrame = {
    val bp = batchPrep.localCheckpoint(true)
    val bandedB = bp.select(col("_id"), explode(col("_bks")).as("_bk"))
      .withColumn("_side", lit(1))
    val batchBuckets = bandedB.select("_bk").distinct()
    val bandedC = corpusPrep.select(col("_id"), explode(col("_bks")).as("_bk"))
      .join(broadcast(batchBuckets), "_bk")
    againstCore(bandedB, bandedC, candIds =>
      corpusPrep.select(col("_id"), col("_sh"))
        .unionByName(bp.select(col("_id"), col("_sh")))
        .join(broadcast(candIds.select("_id").distinct()), "_id"),
      threshold, maxBucketSize)
  }

  /** [[minhashAgainstPrepared]] with the BROADCAST direction reversed
    * for a SMALL corpus and a HUGE batch — fuzzy decontamination's
    * shape (corpus = an eval suite of thousands of docs, batch = the
    * training corpus of billions): the CORPUS's bucket set broadcasts
    * and pre-filters the batch banding, so batch rows landing in no
    * corpus bucket never shuffle, and the batch side is never
    * pinned/materialized (its shingles recompute for the payload
    * slice — recomputing beats checkpointing 100 TB; callers pass an
    * UNPINNED batchPrep). The forward variant would broadcast the
    * batch's bucket set — billions of keys — and localCheckpoint the
    * whole batch.
    *
    * Drop set is IDENTICAL to [[minhashAgainstPrepared]]'s: the census
    * restricted to corpus-intersecting buckets keeps exactly the rows
    * of every mixed bucket (a bucket without a corpus row can never be
    * mixed), so [[againstCore]] sees the same qualifying buckets, the
    * same `maxBucketSize` counts, and the same payload candidates. */
  def minhashAgainstPreparedSmallCorpus(
      corpusPrep: DataFrame,
      batchPrep: DataFrame,
      threshold: Double = 0.5,
      maxBucketSize: Int = 10000): DataFrame = {
    val cp = corpusPrep.localCheckpoint(true) // small side; read 3x below
    val corpusBuckets = cp.select(explode(col("_bks")).as("_bk")).distinct()
    val bandedB = batchPrep.select(col("_id"), explode(col("_bks")).as("_bk"))
      .join(broadcast(corpusBuckets), "_bk")
      .withColumn("_side", lit(1))
    val bandedC = cp.select(col("_id"), explode(col("_bks")).as("_bk"))
    againstCore(bandedB, bandedC, candIds =>
      cp.select(col("_id"), col("_sh"))
        .unionByName(batchPrep.select(col("_id"), col("_sh")))
        .join(broadcast(candIds.select("_id").distinct()), "_id"),
      threshold, maxBucketSize)
  }

  /** Mixed-bucket + skew-valve + in-bucket-verify core shared by the
    * two corpus-signature carriers — the prepared TABLE
    * ([[minhashAgainstPrepared]]: corpus banding broadcast-filtered
    * from a full sidecar scan) and the persisted partition-pruned INDEX
    * ([[MinhashIndex.drops]]: corpus banding read from exactly the
    * bucket directories the batch hashes into). Both carriers restrict
    * the corpus side to the batch's buckets BEFORE this core, so the
    * bucket census, valve, payload slice and verification are
    * literally the same plan — which is what makes the indexed
    * streaming ingest's accept/drop sets provably identical to the
    * sidecar variant's.
    *
    * @param bandedB  batch band rows (_id, _bk, _side=1)
    * @param bandedC  corpus band rows (_id, _bk), already restricted to
    *                 the batch's bucket set
    * @param payloads candidate (_id, _side) rows -> (_id, _sh) shingle
    *                 payloads covering at least those ids (the hook
    *                 where the index carrier prunes its payload read)
    * @return dropped batch ids as a single `_drop` column */
  private[operators] def againstCore(
      bandedB: DataFrame,
      bandedC: DataFrame,
      payloads: DataFrame => DataFrame,
      threshold: Double,
      maxBucketSize: Int): DataFrame = {
    val spark = bandedB.sparkSession
    import spark.implicits._
    val both = bandedB.unionByName(bandedC.withColumn("_side", lit(0)))
      .localCheckpoint(true)
    val mixed = both.groupBy("_bk")
      .agg(count(lit(1)).as("_bn"), sum(col("_side")).as("_nbatch"))
      .filter(col("_nbatch") >= 1 && (col("_bn") - col("_nbatch")) >= 1 &&
        col("_bn") <= maxBucketSize)
      .select("_bk")
    val survivors = both.join(mixed.hint("shuffle_hash"), "_bk")
    val candIds = survivors.select("_id", "_side").distinct()
    val shSlice = payloads(candIds)
    val packed = survivors
      .join(shSlice.hint("shuffle_hash"), "_id")
      .select(col("_bk"), col("_id"), col("_side"), col("_sh"))
      .as[(Long, Long, Int, Array[Long])]
    val t = threshold
    packed.groupByKey(_._1).flatMapGroups {
      (_: Long, it: Iterator[(Long, Long, Int, Array[Long])]) =>
        val rows = it.toArray
        val corp = rows.filter(_._3 == 0)
        rows.iterator.collect {
          case (_, id, 1, shB) if corp.exists(c => jaccardGE(c._4, shB, t)) => id
        }
    }.toDF("_drop").distinct()
  }

  /** SimHash near-dedup: 4 x 16-bit bands (pigeonhole guarantees any pair
    * with hamming distance <= 3 shares a band), verified by popcount. */
  def simhash(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 10000): DataFrame = {
    val sig = df.select(col(idCol).cast("long").as("_id"), simhashCol(col(textCol)).as("_sim"))
    hamming64Dedup(df, idCol, sig, maxHamming, maxBucketSize)
  }

  /** Perceptual near-dedup for IMAGE binary columns: the 64-bit dHash
    * over REAL decoded pixels ([[Multimodal.dHash]]) takes simhash's
    * place, and the identical band/pigeonhole/popcount machinery runs
    * unchanged — images within `maxHamming` bits collapse onto the
    * smallest id. Undecodable blobs hash to null, are never duplicates
    * of anything, and always survive. Same 100-TB shape as simhash:
    * banded (id, bucket) pre-pass, popcount verify only inside >=2
    * member buckets, `maxBucketSize` skew valve. */
  def imageNearDup(
      df: DataFrame,
      idCol: String,
      binCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 10000): DataFrame = {
    val sig = df.select(col(idCol).cast("long").as("_id"),
      Multimodal.dHashCol(col(binCol)).as("_sim"))
      .filter(col("_sim").isNotNull)
    hamming64Dedup(df, idCol, sig, maxHamming, maxBucketSize)
  }

  /** Shared core of [[simhash]]/[[imageNearDup]]: band a 64-bit
    * signature into 4 x 16-bit buckets (pigeonhole: any pair with
    * hamming distance <= 3 shares a band), verify by popcount, drop
    * in-bucket later ids. `sig` = (_id, _sim) with non-null _sim. */
  private def hamming64Dedup(
      df: DataFrame,
      idCol: String,
      sig: DataFrame,
      maxHamming: Int,
      maxBucketSize: Int): DataFrame = {
    val banded = sig.select(col("_id"),
      posexplode(array((0 until 4).map(b =>
        shiftrightunsigned(col("_sim"), b * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("_band", "_bh")))
      .select(col("_id"), bucketKey(col("_band"), col("_bh")).as("_bk"))
    val spark = df.sparkSession
    import spark.implicits._
    val h = maxHamming
    val packed = packBuckets(banded, sig, maxBucketSize)
      .select(col("_bk"), col("_id"), col("_sim")).as[(Long, Long, Long)]
    val drops = bucketDrops[Long](packed,
      (a, b) => java.lang.Long.bitCount(a ^ b) <= h)
    df.join(drops, df(idCol).cast("long") === col("_drop"), "left_anti")
  }

  /** N-gram Jaccard near-dedup — fully exact, via rarity-ordered prefix
    * filtering (AllPairs / SSJoin family): sort each doc's shingle set by
    * ascending global document frequency and index only the first
    * n - ceil(t*n) + 1 shingles. Any pair with Jaccard >= t must share
    * its globally-smallest common shingle inside BOTH prefixes, so the
    * prefix inverted index loses no candidate — while boilerplate
    * shingles (high df) sort to the suffix and never generate the
    * classic df^2 bucket blowup. Candidates are verified with exact
    * Jaccard on the full shingle sets. */
  def ngramJaccard(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val sh = df.select(col(idCol).cast("long").as("_id"),
      shingleCol(col(textCol), k).as("_sh")).localCheckpoint(true)
    val inv = sh.select(col("_id"), explode(col("_sh")).as("_g"))
    val dfreq = inv.groupBy("_g").agg(count(lit(1)).as("_df"))

    // order each doc's shingles by (df asc, gram) — one global order
    val ordered = inv.join(dfreq, "_g")
      .groupBy(col("_id"))
      .agg(array_sort(collect_list(struct(col("_df"), col("_g")))).as("_dg"))
      .select(col("_id"), expr("transform(_dg, x -> x._g)").as("_ord"))
      .withColumn("_n", size(col("_ord")))
    // prefix length: n - ceil(t*n) + 1
    val prefixLen = (col("_n") - ceil(col("_n") * lit(threshold)) + 1).cast("int")
    val banded = ordered
      .select(col("_id"), explode(slice(col("_ord"), lit(1), prefixLen)).as("_bk"))

    // exactness: no bucket cap — rarity ordering already keeps prefix
    // buckets small unless the corpus is one giant duplicate class
    val drops = shingleDrops(banded, sh, Int.MaxValue, threshold)
    df.join(drops, df(idCol).cast("long") === col("_drop"), "left_anti")
  }

  /** Embedding-cosine near-dedup: hyperplane-LSH buckets, exact cosine
    * verify within buckets (multi-band so near pairs are not missed). */
  def embeddingCosine(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.9,
      planesPerBand: Int = 8,
      bands: Int = 8,
      seed: Long = 42L,
      maxBucketSize: Int = 10000): DataFrame = {
    val vecs = df.select(col(idCol).cast("long").as("_id"),
      col(vecCol).cast("array<double>").as("_v"))
    val banded = vecs.select(col("_id"),
      posexplode(Ann.bandedSignatures(col("_v"), planesPerBand, bands, seed))
        .as(Seq("_band", "_bh")))
      .select(col("_id"), bucketKey(col("_band"), col("_bh")).as("_bk"))
    val spark = df.sparkSession
    import spark.implicits._
    val t = threshold
    val packed = packBuckets(banded, vecs, maxBucketSize)
      .select(col("_bk"), col("_id"), col("_v")).as[(Long, Long, Array[Double])]
    val drops = bucketDrops[Array[Double]](packed, (a, b) => cosineGE(a, b, t))
    df.join(drops, df(idCol).cast("long") === col("_drop"), "left_anti")
  }

  /** SemDeDup-style SEMANTIC dedup (cluster-then-dedup, the published
    * pretraining-corpus recipe): assign every vector to its nearest
    * centroid by cosine (ties -> lowest centroid index), then WITHIN
    * each cell drop rows having a lower-id neighbor at cosine >=
    * `threshold`. All-pairs over a corpus is impossible at 100 TB;
    * cells bound comparisons to O(Σ|cell|²), and the one loss is
    * cross-cell near-duplicates — the documented trade (DedupSpec
    * asserts a cosine≈1 pair split across cells survives).
    *
    * Scale shape: assignment is per-row with NO shuffle on either
    * path; the in-cell pass reuses the same packBuckets/bucketDrops
    * core as every other dedup — singleton cells shuffle only
    * (id, cell) longs, payloads move only for multi-member cells,
    * `maxCellSize` is the usual skew valve. Two assignment carriers:
    *
    *  - k <= `maxLiteralK`: centroids ship as plan literals and the
    *    argmax is a codegen'd column expression (whole-stage-fused,
    *    oracle-replayable in SQL engines).
    *  - k >  `maxLiteralK`: [[semanticDedupBroadcast]] — at the
    *    SemDeDup-paper regime (k ~ 5*10^4 clusters, 384-dim) the
    *    literal carrier is ~150 MB of plan literals plus a k-child
    *    codegen expression, which kills the driver/codegen long before
    *    the executors; the centroid MATRIX instead ships once per
    *    executor as a broadcast and a mapPartitions argmax reuses the
    *    bit-identical scalar cosine (DedupSpec asserts row equality
    *    across the two paths at k=4096). */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[Array[Double]],
      threshold: Double = 0.9,
      maxCellSize: Int = 100000,
      maxLiteralK: Int = 1024): DataFrame = {
    require(centroids.nonEmpty, "at least one centroid")
    if (centroids.size > maxLiteralK)
      return semanticDedupBroadcast(df, idCol, vecCol, centroids, threshold, maxCellSize)
    val v = col(vecCol).cast("array<double>")
    val cos = centroids.map(c =>
      graft.functions.vectors.cosine(v, typedLit(c.toSeq)))
    // argmax with first-wins tie-break: array_position returns the
    // FIRST index holding the max. The k-element cosine array is
    // materialized ONCE as its own projection; referencing it from
    // array_position AND array_max below does not re-inline it
    // (CollapseProject keeps multiply-referenced non-trivial aliases),
    // where building `array(cos*)` inside each consumer would compute
    // every centroid cosine twice per row.
    val withCos = df.withColumn("_cos", array(cos: _*))
    val vecs = withCos.select(col(idCol).cast("long").as("_id"), v.as("_v"),
      array_position(col("_cos"), array_max(col("_cos"))).as("_cell"))
    inCellDrops(df, idCol, vecs, threshold, maxCellSize)
  }

  /** [[semanticDedup]]'s large-k assignment carrier: the centroid
    * matrix ships ONCE per executor via `SparkContext.broadcast`
    * (torrent, O(k*dim) bytes total, zero plan literals) and a
    * `mapPartitions` computes the argmax with [[cosineScalar]] — the
    * same fused dot/norm loop, in the same operation order, as the
    * `CosineSimilarity` codegen the literal path evaluates, so cell
    * assignments (including first-wins ties under SQL's
    * NaN-largest / -0.0 == 0.0 comparison, mirrored by [[sparkGt]])
    * are bit-identical to the literal path. Null vectors assign a
    * null cell, exactly as a null input propagates through the
    * literal path's expressions; null-casting ids are excluded BEFORE
    * the typed decode (a primitive-Long decode would throw where the
    * literal path lets them flow) — they can neither drop nor cause
    * drops on either carrier, and the final anti-join passes them
    * through, so the exclusion is invisible in the output.
    *
    * The centroid broadcast stays alive as long as the returned plan
    * does (it is evaluated lazily, possibly more than once); it is
    * reclaimed by Spark's ContextCleaner once the result is
    * dereferenced — a driver looping over MANY datasets should collect
    * each result before building the next. */
  def semanticDedupBroadcast(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[Array[Double]],
      threshold: Double = 0.9,
      maxCellSize: Int = 100000): DataFrame = {
    require(centroids.nonEmpty, "at least one centroid")
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centroids.toArray)
    val vecs = df.select(col(idCol).cast("long").as("_id"),
        col(vecCol).cast("array<double>").as("_v"))
      .filter(col("_id").isNotNull)
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val cents = bc.value
        it.map { case (id, v) =>
          val cell: java.lang.Long =
            if (v == null) null else nearestCentroid(v, cents)
          (id, v, cell)
        }
      }
      .toDF("_id", "_v", "_cell")
    inCellDrops(df, idCol, vecs, threshold, maxCellSize)
  }

  /** Shared in-cell keep-first pass for both [[semanticDedup]]
    * carriers: `vecs` is (_id, _v, _cell). */
  private def inCellDrops(df: DataFrame, idCol: String, vecs: DataFrame,
      threshold: Double, maxCellSize: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val t = threshold
    val packed = packBuckets(
        vecs.select(col("_id"), col("_cell").as("_bk")),
        vecs.select(col("_id"), col("_v")), maxCellSize)
      .select(col("_bk"), col("_id"), col("_v")).as[(Long, Long, Array[Double])]
    val drops = bucketDrops[Array[Double]](packed, (a, b) => cosineGE(a, b, t))
    df.join(drops, df(idCol).cast("long") === col("_drop"), "left_anti")
  }

  /** 1-based argmax-cosine centroid index, first-wins on ties —
    * `array_position(cosArray, array_max(cosArray))` as a scalar. */
  private[graft] def nearestCentroid(v: Array[Double],
      cents: Array[Array[Double]]): Long = {
    var best = cosineScalar(v, cents(0))
    var idx = 0
    var i = 1
    while (i < cents.length) {
      val c = cosineScalar(v, cents(i))
      if (sparkGt(c, best)) { best = c; idx = i }
      i += 1
    }
    idx + 1L
  }

  /** SQL comparison semantics for doubles (what array_max/array_position
    * use): NaN is largest and equals itself; -0.0 equals 0.0. */
  private def sparkGt(a: Double, b: Double): Boolean =
    if (a > b) true
    else if (a < b || a == b) false
    else java.lang.Double.compare(a, b) > 0 // only NaN operands reach here

  /** Scalar twin of the `CosineSimilarity` expression's eval — the
    * SAME fused loop (dot += x*y; nx += x*x; ny += y*y) in the same
    * order, then dot/sqrt(nx*ny), 0.0 on a zero norm — so results are
    * bit-identical to the expression the literal path evaluates. */
  private[graft] def cosineScalar(x: Array[Double], y: Array[Double]): Double = {
    require(x.length == y.length,
      s"cosine_similarity: length mismatch ${x.length} vs ${y.length}")
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    var i = 0
    while (i < x.length) {
      dot += x(i) * y(i); nx += x(i) * x(i); ny += y(i) * y(i)
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / math.sqrt(nx * ny)
  }

  /** Exact duplicate-SUBSTRING removal — the span-level complement of the
    * doc-level dedup family (ExactSubstr in Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL'22, re-shaped for
    * Spark; the reference's index stores whole chunks, so repeated
    * boilerplate INSIDE otherwise-distinct documents is the one
    * duplication mode nothing above touches).
    *
    * Semantics (character-level, deterministic): every character covered
    * by at least one length-`windowLen` window whose exact text occurs
    * >= `minCount` times corpus-wide (all documents, all positions,
    * overlapping occurrences included — so an in-document repeat counts)
    * is cut from its document; surviving characters concatenate in
    * order. Returns (idCol, cleaned, kept_chars, removed_chars), one row
    * per input row; docs shorter than the window pass through untouched.
    *
    * Plan shape (shuffle volume bounded by DUPLICATION volume, never by
    * corpus size):
    *   1. COUNT pass: one 8-byte xxhash64 per window position is
    *      group-counted (map-side partial agg) — the honest lower bound
    *      for exact global multiplicity; gram STRINGS never shuffle here.
    *   2. VERIFY pass: only windows whose hash-count passed re-shuffle
    *      their actual `windowLen`-char gram and are re-counted on the
    *      string itself, so a 64-bit collision between two distinct
    *      singleton grams (realistic at trillions of windows) can NOT
    *      cut non-duplicated text — same reasoning as [[exact]].
    *   3. CUT pass: duplicated window positions group per doc (ints
    *      only), sorted, interval-merged and sliced out by higher-order
    *      aggregate folds — native expressions, no UDF, one linear pass
    *      per document. A Bloom filter over span-bearing ids splits the
    *      corpus first, so only docs that might have a span join their
    *      text in (an outer join's preserved side can't take a runtime
    *      filter — without this the whole corpus' text would shuffle);
    *      misses pass through untouched, and exactness never depends on
    *      the fpp (a false positive joins to nothing).
    *
    * Scale valve `anchorStride` (content-defined sampling, the CDC
    * idea): with stride s > 1 only ANCHORED positions — those whose
    * 8-byte prefix hashes to 0 mod s — emit windows, cutting passes 1-2
    * to ~1/s of the corpus. Anchors are content-defined, so both copies
    * of a duplicated region select the SAME interior positions
    * regardless of byte alignment (a fixed stride would miss copies
    * aligned differently mod s); a duplicated span only escapes if it
    * contains no anchor at all, P ~ (1-1/s)^(span_len - windowLen).
    * Covered spans still cut exactly (verification is still on full
    * gram strings); the stride only controls which positions are
    * EXAMINED. Default 1 = every position, exact. */
  def exactSubstr(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowLen: Int = 50,
      minCount: Int = 2,
      anchorStride: Int = 1,
      bloomFpp: Double = 0.01,
      expectedSpanDocs: Long = 0L): DataFrame = {
    require(windowLen >= 2, s"windowLen must be >= 2, got $windowLen")
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    require(anchorStride >= 1, s"anchorStride must be >= 1, got $anchorStride")
    val L = windowLen
    // The window fan-out multiplies per-row work by ~text length, so the
    // stage must run at cluster parallelism. A small corpus in one
    // parquet split would otherwise explode + partial-aggregate 100% of
    // the windows ON ONE CORE (measured 2.5s vs 0.3s at sf0.1); at real
    // scale the scan already yields thousands of splits and this is a
    // no-op.
    val baseRaw = df.select(col(idCol).as("_id"), col(textCol).as("_text"))
    val para = df.sparkSession.sparkContext.defaultParallelism
    val base =
      if (baseRaw.rdd.getNumPartitions < para) baseRaw.repartition(para)
      else baseRaw

    val wins = substrWindows(base, L, anchorStride)
      .withColumn("_h", xxhash64(col("_g")))

    // Pass 1: count on the 8-byte hash only (column pruning drops _g).
    val dupHashes = wins.groupBy("_h").agg(count(lit(1)).as("_c"))
      .filter(col("_c") >= minCount).select("_h")
    // Pass 2: exact-string verification of hash candidates only.
    val cand = wins.join(dupHashes, Seq("_h")).select("_id", "_p", "_g")
    val verified = cand.groupBy("_g").agg(count(lit(1)).as("_c"))
      .filter(col("_c") >= minCount).select("_g")
    val dupWins = cand.join(verified, Seq("_g")).select("_id", "_p")
    cutSpans(base, dupWins, idCol, L, bloomFpp, expectedSpanDocs)
  }

  /** One window per character position (1-based, matching substr):
    * (_id, _p, _g) from a (_id, _text) frame. A text shorter than the
    * window emits none; sequence() is guarded because sequence(1, 0)
    * DESCENDS instead of returning empty. `anchorStride > 1` keeps only
    * content-defined anchor positions (see [[exactSubstr]]). */
  private def substrWindows(base: DataFrame, L: Int, anchorStride: Int): DataFrame = {
    val positions = when(length(col("_text")) >= L,
      sequence(lit(1), length(col("_text")) - (L - 1)))
      .otherwise(array().cast("array<int>"))
    val anchored =
      if (anchorStride == 1) explode(positions).as("_p")
      else explode(filter(positions, p =>
        pmod(xxhash64(col("_text").substr(p, lit(8))), lit(anchorStride)) === 0)).as("_p")
    base
      .select(col("_id"), col("_text"), anchored)
      .select(col("_id"), col("_p"), col("_text").substr(col("_p"), lit(L)).as("_g"))
  }

  /** Shared cut tail for [[exactSubstr]] / [[exactSubstrAgainst]]:
    * duplicated window positions (_id, _p) -> per-doc merged intervals
    * -> surviving text, with the span-id Bloom split that keeps
    * untouched docs out of the text join. */
  private def cutSpans(base: DataFrame, dupWins: DataFrame, idCol: String,
      L: Int, bloomFpp: Double, expectedSpanDocs: Long): DataFrame = {
    // Per-doc sorted positions -> merged [s, e] intervals -> cut.
    // Persisted: three consumers (size count, Bloom build, the cut join)
    // would otherwise each re-execute the whole 3-pass DAG; spans is
    // narrow (one (id, int-positions) row per span-BEARING doc — bounded
    // by duplication volume) and spills to disk if a pathological corpus
    // makes it big.
    val spans = dupWins.groupBy("_id")
      .agg(sort_array(collect_list(col("_p"))).as("_ps"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val merged = aggregate(
      col("_ps"),
      array().cast("array<struct<s:int,e:int>>"),
      (acc, p) => {
        val last = element_at(acc, -1)
        when(size(acc) > 0 && p <= last.getField("e") + 1,
          concat(slice(acc, lit(1), size(acc) - 1),
            array(struct(last.getField("s").as("s"), (p + (L - 1)).as("e")))))
          .otherwise(concat(acc, array(struct(p.as("s"), (p + (L - 1)).as("e")))))
      })
    // Fold the gaps between merged intervals into the surviving string.
    val cut = aggregate(
      col("_merged"),
      struct(lit(0).as("e"), lit("").as("acc")),
      (st, iv) => struct(
        iv.getField("e").as("e"),
        concat(st.getField("acc"),
          col("_text").substr(st.getField("e") + 1,
            iv.getField("s") - st.getField("e") - 1)).as("acc")),
      st => concat(st.getField("acc"),
        col("_text").substr(st.getField("e") + 1,
          length(col("_text")) - st.getField("e"))))

    // A plain LEFT join base⋈spans would shuffle EVERY document's text:
    // the preserved side of an outer join cannot take a runtime filter,
    // so at 100 TB the whole corpus moves even when duplication is rare.
    // Same remedy as [[exactAgainstBloom]]: a Bloom filter over the
    // span-bearing ids (built from the narrow spans side) splits the
    // corpus — definite misses pass through UNTOUCHED with zero shuffle
    // (Bloom has no false negatives), and only might-have-span rows
    // (true hits + ~fpp) join, so text shuffle volume is bounded by
    // duplication volume, not corpus size. A false positive left-joins
    // to nothing and passes through — exactness never depends on fpp.
    // `expectedSpanDocs <= 0` counts the spans side (one narrow extra
    // job; pass a hint at scale).
    val spark = base.sparkSession
    val spansN =
      if (expectedSpanDocs > 0) expectedSpanDocs
      else math.max(1L, spans.count())
    // sentinel row: BloomFilter.readFrom NPEs on a zero-row aggregate (a
    // corpus with no duplicated span at all); one reserved hash value
    // costs one harmless possible false positive
    val bf = spans.select(xxhash64(col("_id")).as("_ih"))
      .unionAll(spark.range(1).select(lit(Long.MinValue).as("_ih")))
      .stat.bloomFilter("_ih", spansN + 1, bloomFpp)
    val bcast = spark.sparkContext.broadcast(bf)
    val mightHaveSpan = udf { (h: Long) => bcast.value.mightContainLong(h) }
    val flagged = base.withColumn("_sb",
      coalesce(mightHaveSpan(xxhash64(col("_id"))), lit(false)))
    val outCols = Seq(col("_id").as(idCol), col("cleaned"),
      length(col("cleaned")).as("kept_chars"),
      (length(col("_text")) - length(col("cleaned"))).as("removed_chars"))
    val cutRows = flagged.filter(col("_sb")).drop("_sb")
      .join(spans, Seq("_id"), "left")
      .withColumn("_merged", merged)
      .withColumn("cleaned",
        when(col("_ps").isNull, col("_text")).otherwise(cut))
      .select(outCols: _*)
    val untouched = flagged.filter(!col("_sb")).drop("_sb")
      .withColumn("cleaned", col("_text"))
      .select(outCols: _*)
    cutRows.unionAll(untouched)
  }

  /** The window-hash count SIDECAR for [[exactSubstrAgainst]]: one
    * (h1, h2, count) row per DISTINCT window of the corpus, where
    * (h1, h2) is a 128-bit double-hash of the gram (two xxhash64 seeds
    * via a salt prefix). Computed once per corpus — store it next to
    * the corpus like [[prepareMinhash]]'s signature sidecar and reuse
    * across every ingest batch; size is O(distinct windows), text never
    * leaves the corpus scan. */
  def prepareSubstrCounts(corpus: DataFrame, textCol: String,
      windowLen: Int = 50, anchorStride: Int = 1): DataFrame = {
    require(windowLen >= 2, s"windowLen must be >= 2, got $windowLen")
    substrWindows(
        corpus.select(lit(0L).as("_id"), col(textCol).as("_text")),
        windowLen, anchorStride)
      .select(xxhash64(col("_g")).as("_h1"),
        xxhash64(lit("graft-substr-salt"), col("_g")).as("_h2"))
      .groupBy("_h1", "_h2").agg(count(lit(1)).as("_c"))
  }

  /** Incremental duplicate-substring removal of an ingest BATCH against
    * an already-stored corpus — the rolling-crawl shape: spans the
    * corpus has already seen (or that repeat within the batch) cut from
    * batch documents; the corpus is never modified or rescanned beyond
    * its precomputed [[prepareSubstrCounts]] sidecar.
    *
    * A batch window is duplicated iff its corpus-sidecar count plus its
    * in-batch count reaches `minCount` (default 2: one prior corpus
    * occurrence suffices, and batch-internal repeats cut exactly like
    * [[exactSubstr]]). Matching is on the 128-bit double-hash — the
    * corpus' gram strings are not stored, so there is no string-verify
    * pass here; at 10^12 windows the 128-bit collision probability is
    * ~1e-14, documented as the trade for a sidecar that is counts-only.
    *
    * Orientation: the batch is small (a crawl batch), the sidecar is
    * O(corpus distinct windows) — the batch's DISTINCT hash pairs
    * BROADCAST as the semi-filter on the sidecar scan, so only sidecar
    * rows the batch actually touches shuffle into the join
    * ([[minhashAgainst]]'s census orientation); the batch never pins. */
  def exactSubstrAgainst(
      corpusCounts: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      windowLen: Int = 50,
      minCount: Int = 2,
      anchorStride: Int = 1,
      bloomFpp: Double = 0.01,
      expectedSpanDocs: Long = 0L): DataFrame = {
    require(windowLen >= 2, s"windowLen must be >= 2, got $windowLen")
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    val L = windowLen
    val baseRaw = batch.select(col(idCol).as("_id"), col(textCol).as("_text"))
    val para = batch.sparkSession.sparkContext.defaultParallelism
    val base =
      if (baseRaw.rdd.getNumPartitions < para) baseRaw.repartition(para)
      else baseRaw
    val wins = substrWindows(base, L, anchorStride)
      .select(col("_id"), col("_p"),
        xxhash64(col("_g")).as("_h1"),
        xxhash64(lit("graft-substr-salt"), col("_g")).as("_h2"))
    val batchCounts = wins.groupBy("_h1", "_h2").agg(count(lit(1)).as("_bc"))
    val corpusHits = corpusCounts
      .select(col("_h1"), col("_h2"), col("_c").cast("long").as("_cc"))
      .join(broadcast(batchCounts.select("_h1", "_h2")), Seq("_h1", "_h2"), "left_semi")
    val dupPairs = batchCounts
      .join(corpusHits, Seq("_h1", "_h2"), "left")
      .filter(col("_bc") + coalesce(col("_cc"), lit(0L)) >= minCount)
      .select("_h1", "_h2")
    val dupWins = wins.join(dupPairs, Seq("_h1", "_h2")).select("_id", "_p")
    cutSpans(base, dupWins, idCol, L, bloomFpp, expectedSpanDocs)
  }

  // ---------- helpers ----------

  /** Mix the band ordinal into the band hash -> one long bucket key.
    * A chance collision between buckets only merges two candidate
    * groups — a superset of verify checks, never a missed pair. */
  private def bucketKey(band: Column, bh: Column): Column = xxhash64(band, bh)

  /** Keep only (id, bucket) rows whose bucket has 2..maxBucketSize
    * members, then hash-join the payload back by id. The count pre-pass
    * is narrow (two longs per row): on benign corpora nearly all buckets
    * are singletons, so payload bytes are shuffled ONLY for rows that
    * can actually form a candidate pair. Hash joins, not sort-merge —
    * nothing here benefits from sorted output. */
  private def packBuckets(
      banded0: DataFrame, // (_id, _bk)
      payload: DataFrame, // (_id, <payload>)
      maxBucketSize: Int): DataFrame = {
    // The banded frame feeds BOTH the bucket-count pre-pass and the
    // survivor join; Spark plans no ReusedExchange across them (the
    // exchanges differ), so without materialization the whole signature/
    // ordering lineage executes twice. The frame is two longs per row —
    // cheap to pin. localCheckpoint trades lineage (executor loss => job
    // retry) for the 2x; swap for persist(DISK_ONLY_2)/reliable
    // checkpoint where that tradeoff flips.
    val banded = banded0.localCheckpoint(true)
    val multi = banded.groupBy("_bk").agg(count(lit(1)).as("_bn"))
      .filter(col("_bn").between(2, maxBucketSize)).select("_bk")
    banded.join(multi.hint("shuffle_hash"), "_bk")
      .join(payload.hint("shuffle_hash"), "_id")
  }

  /** In-bucket keep-first verification: group rows by bucket, sort by
    * id, and emit id_j iff some i < j verifies as a duplicate — with
    * early exit on the first hit. Candidate PAIRS are never
    * materialized or shuffled; worst-case work per bucket is s^2/2
    * cheap predicate calls in one task (bounded by maxBucketSize), and
    * on duplicate-heavy corpora the early exit makes it near-linear. */
  private def bucketDrops[P](
      packed: org.apache.spark.sql.Dataset[(Long, Long, P)], // (_bk, _id, payload)
      dup: (P, P) => Boolean): DataFrame = {
    val spark = packed.sparkSession
    import spark.implicits._
    packed.groupByKey(_._1).flatMapGroups { (_: Long, it: Iterator[(Long, Long, P)]) =>
      val rows = it.toArray.sortBy(_._2)
      val out = scala.collection.mutable.ArrayBuffer.empty[Long]
      var j = 1
      while (j < rows.length) {
        var i = 0
        var hit = false
        while (i < j && !hit) {
          if (dup(rows(i)._3, rows(j)._3)) hit = true
          i += 1
        }
        if (hit) out += rows(j)._2
        j += 1
      }
      out.iterator
    }.toDF("_drop").distinct()
  }

  /** All VERIFIED duplicate pairs (_a < _b, distinct) — like
    * [[bucketDrops]] but emitting the pairs themselves (no early exit;
    * cluster dedup needs the full edge set). */
  private def bucketVerifiedPairs[P](
      packed: org.apache.spark.sql.Dataset[(Long, Long, P)],
      dup: (P, P) => Boolean): DataFrame = {
    val spark = packed.sparkSession
    import spark.implicits._
    packed.groupByKey(_._1).flatMapGroups { (_: Long, it: Iterator[(Long, Long, P)]) =>
      val rows = it.toArray.sortBy(_._2)
      for {
        j <- (1 until rows.length).iterator
        i <- (0 until j).iterator
        if dup(rows(i)._3, rows(j)._3)
      } yield (rows(i)._2, rows(j)._2)
    }.toDF("_a", "_b").distinct()
  }

  /** Shared tail for the shingle-set variants (minhash / ngram):
    * pack buckets with shingle arrays, verify exact Jaccard in-bucket. */
  private def shingleDrops(
      banded: DataFrame, // (_id, _bk)
      sh: DataFrame, // (_id, _sh)
      maxBucketSize: Int,
      threshold: Double): DataFrame = {
    val spark = banded.sparkSession
    import spark.implicits._
    val packed = packBuckets(banded, sh, maxBucketSize)
      .select(col("_bk"), col("_id"), col("_sh")).as[(Long, Long, Array[Long])]
    bucketDrops[Array[Long]](packed, (a, b) => jaccardGE(a, b, threshold))
  }

  /** cosine(a,b) >= t with the same zero-norm semantics as
    * [[graft.functions.vectors.cosine]] (score 0 when either norm is 0). */
  private[graft] def cosineGE(a: Array[Double], b: Array[Double], t: Double): Boolean = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    val denom = math.sqrt(na) * math.sqrt(nb)
    denom > 0 && dot / denom >= t
  }

  // ---------- sorted-neighborhood (SNM) candidate generation ----------

  /** The engine's standard token STREAM (ordered, duplicates kept) —
    * the n-gram feed. */
  private def tokenSetColOrdered(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => t =!= "")

  /** The engine's standard token set as a column: lowercase,
    * `[^a-z0-9]+` splits, empties dropped, DEDUPED — the set form the
    * integer-exact Jaccard below consumes. */
  private def tokenSetCol(text: Column): Column =
    array_distinct(tokenSetColOrdered(text))

  /** Sorted-neighborhood dedup (Hernández–Stolfo SNM): sort the corpus
    * by a cheap blocking key, slide a window of `window` rows, and
    * verify only pairs inside the window — the classic
    * entity-resolution sibling of MinHash banding, and the one that
    * catches near-dups whose SORT KEYS agree even when no rare shingle
    * does. Returns verified pairs (id1 < id2 in SORT order) whose
    * token-set Jaccard clears `thrNum/thrDen`, tested as the exact
    * integer inequality (den+num)·|∩| ≥ num·(|A|+|B|) — zero float
    * drift across engines.
    *
    * Scale shape: the global sort rank comes from [[Ids.contiguous]]
    * (range-repartition + broadcast offsets — never a one-task global
    * window), and the "window" is an equijoin of rank against
    * rank+d for d ∈ 1..window−1 (the small `d` explode is on the
    * build side). Cost: one range shuffle + one rank equijoin —
    * window pairs never materialize beyond (window−1)·n rows, vs the
    * quadratic block-cartesian of naive blocking. */
  def sortedNeighborhood(df: DataFrame, idCol: String, textCol: String,
      sortKey: Column, window: Int, thrNum: Int = 1, thrDen: Int = 2):
      DataFrame = {
    require(window >= 2, "window must cover at least one neighbor")
    require(thrNum >= 0 && thrDen > 0, "threshold must be a ratio >= 0")
    val base = df.select(col(idCol).as("_id"), sortKey.as("_key"),
      tokenSetCol(col(textCol)).as("_set"))
    val ranked = Ids.contiguous(base, Seq(col("_key"), col("_id")), "_r")
      .select(col("_id"), col("_r"), col("_set"))
      .localCheckpoint(true) // consumed by both legs of the rank join
    val left = ranked.select(col("_id").as("id1"), col("_set").as("_s1"),
        explode(sequence(lit(1L), lit((window - 1).toLong))).as("_d"),
        col("_r"))
      .withColumn("_rj", col("_r") + col("_d"))
    val right = ranked.select(col("_id").as("id2"), col("_set").as("_s2"),
      col("_r").as("_rj"))
    left.join(right, "_rj")
      .withColumn("_inter", size(array_intersect(col("_s1"), col("_s2"))))
      // integer-exact Jaccard >= num/den on deduped token sets
      .filter(lit(thrDen + thrNum) * col("_inter") >=
        lit(thrNum) * (size(col("_s1")) + size(col("_s2"))))
      .select(col("id1"), col("id2"),
        col("_inter").cast("long").as("n_common"))
  }

  // ---------- n-gram containment (partial-copy detection) ----------

  /** Distinct word n-gram STRINGS (space-joined) — unlike the hashed
    * [[shingleCol]], these replay verbatim in any engine, which is
    * what lets the containment gate hash-match an independent SQL
    * replay. Docs with fewer than `n` tokens have no n-grams.
    * `toks` MUST be a bound column (project the tokenization first):
    * the n `element_at` references inside the lambda each re-evaluate
    * their argument, and handing them the raw split-filter expression
    * re-tokenizes the document once per gram per slot — measured 4×
    * on the whole containment pipeline at sf0.1. */
  private def ngramSetCol(toks: Column, n: Int): Column =
    // sequence(1, size-n+1) would run DESCENDING for short docs
    // (Spark's sequence walks stop < start backwards) — guard to empty
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ",
          (0 until n).map(o => element_at(toks, i + o)): _*))))
      .otherwise(array().cast("array<string>"))

  /** Directional near-dup: doc A is CONTAINED in doc B when at least
    * `thrNum/thrDen` of A's distinct n-grams also occur in B — the
    * asymmetric overlap that catches quotes, partial scrapes and
    * boilerplate-wrapped copies that symmetric Jaccard dilutes below
    * any threshold. Candidates come from RARE-shingle blocking: only
    * n-grams shared by ≤ `dfCap` docs generate pairs (fan-out per
    * shingle ≤ dfCap², the skew valve — a boilerplate shingle present
    * in a million docs generates nothing), then each candidate pair is
    * verified EXACTLY by re-joining the full n-gram sets. The verify
    * inequality is integer (thrDen·|A∩B| ≥ thrNum·|A|): no float
    * anywhere. Blocking recall: a pair is missed only if EVERY shared
    * n-gram occurs in > dfCap docs; the engine's frequent-items
    * sidecar ([[FrequentItems]]) is the tool that audits that regime
    * without a rescan.
    *
    * Returns (contained_id, container_id, n_common, n_contained) with
    * the contained side = fewer distinct n-grams (tie: smaller id). */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, dfCap: Int = 10, thrNum: Int = 4, thrDen: Int = 5):
      DataFrame = {
    require(n >= 1 && dfCap >= 1, "n and dfCap must be >= 1")
    val sh = df.select(col(idCol).as("_id"),
        tokenSetColOrdered(col(textCol)).as("_toks"))
      .select(col("_id"), explode(ngramSetCol(col("_toks"), n)).as("_g"))
      .localCheckpoint(true) // feeds blocking, sizes AND the verify join
    val sizes = sh.groupBy(col("_id")).agg(count(lit(1)).as("_nsh"))
    val rare = sh.groupBy(col("_g")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") <= dfCap).select(col("_g"))
    // materialized: the self-join below would otherwise recompute the
    // whole blocking subtree (explode + df-count shuffle) once per leg
    val blocked = sh.join(rare, "_g").localCheckpoint(true)
    val cand = blocked.select(col("_g"), col("_id").as("_a"))
      .join(blocked.select(col("_g"), col("_id").as("_b")), "_g")
      .filter(col("_a") < col("_b"))
      .select(col("_a"), col("_b")).distinct()
      .localCheckpoint(true) // feeds both verify-join legs
    val inter = cand
      .join(sh.select(col("_id").as("_a"), col("_g")), "_a")
      .join(sh.select(col("_id").as("_b"), col("_g")), Seq("_b", "_g"))
      .groupBy(col("_a"), col("_b")).agg(count(lit(1)).as("_inter"))
    inter
      .join(sizes.select(col("_id").as("_a"), col("_nsh").as("_na")), "_a")
      .join(sizes.select(col("_id").as("_b"), col("_nsh").as("_nb")), "_b")
      .withColumn("_cid", when(col("_na") < col("_nb") ||
        (col("_na") === col("_nb") && col("_a") < col("_b")), col("_a"))
        .otherwise(col("_b")))
      .withColumn("_oid", when(col("_cid") === col("_a"), col("_b"))
        .otherwise(col("_a")))
      .withColumn("_nc", when(col("_cid") === col("_a"), col("_na"))
        .otherwise(col("_nb")))
      .filter(lit(thrDen) * col("_inter") >= lit(thrNum) * col("_nc"))
      .select(col("_cid").as("contained_id"), col("_oid").as("container_id"),
        col("_inter").as("n_common"), col("_nc").as("n_contained"))
  }
}
