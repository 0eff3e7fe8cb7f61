package graft.operators

import graft.core.{IndexMeta, IngestError, Metric}
import graft.functions.vectors
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

/** A named vector index over Parquet with snapshot isolation
  * (SURVEY.md §1.4, §2.E, §2.F).
  *
  * Reference semantics reproduced:
  *   - fixed dimension + metric declared at creation
  *     (`/root/reference/streamlit_app.py:49`: dim=384, metric=cosine);
  *     stored in `_graft_meta.json`, validated on every upsert
  *     (`:142-143`);
  *   - idempotent create / existence check (`:46-49`); no readiness
  *     poll needed — a written snapshot IS ready (`:52-58` collapses);
  *   - id-keyed upsert, last write wins (`:110`);
  *   - query surface: top-k cosine with optional metadata filter,
  *     fetch/delete by id (Pinecone query API `[dep]`).
  *
  * Storage — manifest snapshots over bucket-partitioned data files
  * (simplified Iceberg):
  *
  *   path/_graft_meta.json              dimension/metric/numBuckets
  *   path/data/v=N-<attempt>/_bucket=B/part-*  rows written by one attempt at snapshot N
  *   path/snapshot=N/manifest          lines "bucket<TAB>relative-file"
  *
  * Rows hash into `numBuckets` id-buckets (pmod(xxhash64(id))); an
  * upsert/delete rewrites ONLY the buckets its ids hash into and the
  * new manifest references the previous snapshot's files for every
  * untouched bucket. Write I/O is therefore proportional to the
  * touched buckets, not the index: a 1 GB batch against a 100 TB index
  * rewrites ~numBuckets'th of the index worst-case, not all of it
  * (size `numBuckets` so index/numBuckets is a comfortable task unit —
  * thousands at cluster scale). Readers scan a committed manifest's
  * file list; writers never mutate a referenced file, so scans are
  * snapshot-isolated for free. `version` on each row records the
  * snapshot that last WROTE the row (untouched rows keep their stamp).
  */
final class VectorIndex private (
    val spark: SparkSession,
    val path: String,
    val meta: IndexMeta) {

  import VectorIndex._

  private def bucketOf(id: Column, numBuckets: Int): Column =
    pmod(xxhash64(id), lit(numBuckets)).cast("int")

  /** The bucket count of the CURRENT layout: recorded in the latest
    * committed manifest's header (so a rebucket switches layouts
    * atomically with its snapshot commit — a crash between the commit
    * and the meta rewrite, or a stale pre-rebucket handle, can never
    * mix hash spaces); falls back to the meta default for an empty
    * index or pre-header manifests. */
  private def currentNumBuckets(cur: Option[Long]): Int =
    cur.flatMap(manifestNumBuckets(spark, path, _)).getOrElse(meta.numBuckets)

  /** Current contents: (id, values, metadata, version). */
  def scan(): DataFrame = currentSnapshot(spark, path) match {
    case Some(n) => readManifestData(n)
    case None => emptyIndexDf(spark)
  }

  /** [[scan]]/[[scanAt]] restricted to the files the manifest's
    * per-field stats cannot refute for `preds` — the DSv2 catalog's
    * FILE-pruning hook (a SQL `WHERE metadata.priority = 1` over a
    * sparse-tag index then opens only the stamped buckets' files).
    * Pruning is refutation-only: the caller's own filter remains the
    * correctness authority, exactly like the probe paths.
    * [[lastStatsPrunedFiles]] records what the call dropped. */
  private[graft] def scanStatsPruned(preds: Seq[StatPred],
      asOf: Option[Long] = None,
      emptySchema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    // `emptySchema`: schema for the every-file-refuted answer — an
    // index with EXTENDED metadata fields (the sparse-tag pattern)
    // must hand back an empty frame whose metadata struct still
    // carries those fields, or the caller's re-applied filter fails
    // to resolve; the canonical emptyIndexDf only knows the base
    // fields.
    def emptyDf: DataFrame = emptySchema
      .map(s => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s))
      .getOrElse(emptyIndexDf(spark))
    asOf.foreach(v => require(snapshots().contains(v),
      s"snapshot $v not present (have ${snapshots().mkString(",")})"))
    asOf.orElse(currentSnapshot(spark, path)) match {
      case None => emptyDf
      case Some(n) =>
        val all = readManifest(spark, path, n).values.flatten.toSeq
        val usable = if (preds.isEmpty) all else all.filter(fileCanMatch(_, preds))
        lastStatsPrunedFiles = all.size - usable.size
        // companion mirror: the SQL catalog opens its own instance per
        // table load, so specs observe pruning through the companion
        VectorIndex.lastScanStatsPruned = all.size - usable.size
        val files = usable.map(_.file).sorted
        if (files.isEmpty) emptyDf
        else readSnapshotFiles(spark, path, n, files, mergeSchema = false)
          .select(col("id"), col("values"), col("metadata"), col("version"))
    }
  }

  /** Committed snapshot versions, ascending (bounded by the retention
    * in pruneOldSnapshots). */
  def snapshots(): Seq[Long] = listSnapshots(spark, path)

  /** Newest snapshot committed at or before `micros` since epoch —
    * `TIMESTAMP AS OF` resolution for the SQL catalog. Manifest files
    * are written once (tmp + rename) and never touched again, so their
    * modification time IS the commit time. */
  def snapshotAsOfTimestamp(micros: Long): Option[Long] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    snapshots().filter { v =>
      fs.getFileStatus(manifestPath(path, v)).getModificationTime * 1000L <= micros
    }.lastOption
  }

  /** Time travel: read the index as of an older committed snapshot. */
  def scanAt(version: Long): DataFrame = {
    require(snapshots().contains(version),
      s"snapshot $version not present (have ${snapshots().mkString(",")})")
    readManifestData(version)
  }

  /** G3 `describe_index` parity: dimension / metric / row count. */
  def describe(): (IndexMeta, Long) = (meta, scan().count())

  /** D4 upsert: id-keyed, last-write-wins. Records need (id, values,
    * metadata); rejects wrong-width vectors before any write (E2).
    * Rewrites only the id-buckets present in the batch.
    *
    * CONCURRENT WRITERS: the manifest rename is a compare-and-swap —
    * exactly one writer commits each snapshot version (see
    * [[VectorIndex.writeManifest]]). A loser's whole attempt is
    * recomputed against the winner's committed state and retried (its
    * base files, layout, and target version all may have changed), up
    * to [[MaxCommitRetries]] times before [[SnapshotConflict]]
    * surfaces. The loser's orphaned attempt files are unreferenced by
    * construction (per-attempt data dirs) and swept by the file-level
    * GC on a later retention drop. */
  def upsert(records: DataFrame): Unit =
    retryOnConflict("upsert")(upsertOnce(records))

  private def upsertOnce(records: DataFrame): Unit = {
    val dim = meta.dimension
    val cur = currentSnapshot(spark, path)
    val version = cur.map(_ + 1L).getOrElse(0L)
    // one materialization feeds the dim check, the touched-bucket scan
    // and the merge — records may be a whole ingest pipeline. persist
    // (not localCheckpoint): it can be RELEASED after the write — a
    // checkpoint's blocks would stay pinned until driver GC, which a
    // long-running per-batch ingest loop cannot afford
    val nb = currentNumBuckets(cur)
    val incoming = records
      .select(col("id").cast("string"), col("values").cast("array<float>"), col("metadata"))
      .withColumn("version", lit(version))
      .withColumn("_bucket", bucketOf(col("id"), nb))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // ONE probe job answers both pre-write questions — the E2 dim
      // rejection (before any write) and the touched-bucket set (two
      // separate jobs here cost a fixed per-job overhead that dominates
      // small ingest batches; measured 0.3s/upsert at sf0.1). A null
      // vector is flagged explicitly: size(null) is null, so the width
      // comparison alone would pass it on to fail inside the write.
      val probe = incoming.groupBy(col("_bucket"))
        .agg(max(when(col("values").isNull || size(col("values")) =!= dim, 1)
          .otherwise(0)).as("_bad"))
        .collect()
      if (probe.exists(_.getInt(1) > 0))
        throw new IngestError(
          s"upsert: null embedding or embedding dimension != index dimension $dim")
      val touched = probe.map(_.getInt(0)).toSet
      val manifest = cur.map(readManifest(spark, path, _))
        .getOrElse(Map.empty[Int, Seq[ManifestFile]])
      val oldFiles = touched.toSeq.sorted.flatMap(manifest.getOrElse(_, Nil)).map(_.file)
      // last write wins; within a batch ties broken arbitrarily-but-
      // deterministically by values hash. The same window applies whether
      // or not the touched buckets had prior files, so a batch's winners
      // never depend on the index's prior layout. Partitioning the
      // window by (_bucket, id) instead of bare id groups identically
      // (id determines its bucket) but lets the window reuse the
      // _bucket clustering the write needs anyway — ONE shuffle feeds
      // merge + layout + write instead of two back-to-back exchanges
      // of full vector rows.
      val w = Window.partitionBy(col("_bucket"), col("id"))
        .orderBy(col("version").desc, xxhash64(col("values")).desc)
      // canonical-column select: the derived _bsig (and _vpre) columns
      // are recomputed at write, never merged
      val base = if (oldFiles.isEmpty) incoming else {
        readSnapshotFiles(spark, path, cur.get, oldFiles, mergeSchema = false)
          .select(col("id"), col("values"), col("metadata"), col("version"))
          .withColumn("_bucket", bucketOf(col("id"), nb))
          .unionByName(incoming)
      }
      val merged = base
        // pinned to the bucket count (r21, guide §2.4): an unpinned
        // repartition(col) lets AQE coalesce a small-batch upsert's
        // exchange to ONE task, which then computes the merge window,
        // every row's _bsig signature AND all touched buckets' files
        // serially; the one-file-per-bucket write caps useful
        // parallelism at numBuckets at every scale, so pin it there.
        .repartition(nb, col("_bucket"))
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1).drop("_rn")
      writeSnapshot(version, merged, manifest, touched, nb, preClustered = true)
    } finally incoming.unpersist(blocking = false)
  }

  /** Q1/Q3: top-k by metric score with optional metadata pre-filter
    * (filter applies BEFORE scoring; Catalyst pushes it into the scan).
    * `orderBy.limit` plans as TakeOrderedAndProject — distributed top-k,
    * no global sort. `asOf` serves the query from an older retained
    * snapshot ([[scanAt]]) — the serving-rollback surface: a bad upsert
    * can be queried around instantly while the fix lands, because every
    * retained manifest IS a complete, immutable file list. */
  def query(q: Array[Float], k: Int, filter: Option[Column] = None,
      asOf: Option[Long] = None): DataFrame = {
    val base0 = asOf.map(scanAt).getOrElse(scan())
    val base = filter.foldLeft(base0)((df, f) => df.filter(f))
    topScored(base.withColumn("score", scoreCol(q)), k)
  }

  /** The metric's score expression for query vector `q`. */
  private def scoreCol(q: Array[Float]): Column =
    scoreCols(col("values"), lit(q.map(_.toDouble)))

  /** The index metric as a two-COLUMN expression (the literal-query
    * [[scoreCol]] and the batch [[knnJoin]] share it, so single-query
    * and batch scores are computed by the identical codegen'd
    * arithmetic). */
  private def scoreCols(v: Column, qCol: Column): Column =
    meta.metric match {
      case Metric.Cosine => vectors.cosine(v, qCol)
      case Metric.Dot => vectors.dot(v, qCol)
      // clamp: fp cancellation for v≈q can push the operand slightly
      // negative → sqrt NaN, which Spark sorts ABOVE all doubles.
      case Metric.Euclidean => -sqrt(greatest(
        vectors.dot(v, v) - lit(2.0) * vectors.dot(v, qCol)
          + vectors.dot(qCol, qCol), lit(0.0)))
    }

  /** Q1 at SERVING scale: binary-signature shortlist + exact rescore —
    * [[query]]'s answer shape without its O(index) vector scan. Every
    * snapshot rewrite stores each row's 64-bit hyperplane signature
    * ([[Ann.encodeBinary]], 8 bytes/row) AND lays files out by the
    * signature's top `sigCellBits` bits (`_cell=` under each id-bucket),
    * so the shortlist pass is pruned twice: to the (id, _bsig) columns
    * (~2-5% of the vector bytes at dim 384) and to the FILES of the
    * query cell's expanding Hamming rings — sized by the manifest's
    * per-file row counts to cover `shortlist * ProbeOversample`
    * candidates — instead of every row in the index. It ranks by
    * codegen'd popcount (TakeOrderedAndProject, per-partition heaps),
    * and the exact rescore reads full rows ONLY from the manifest files
    * of the buckets the shortlisted ids hash into (the same
    * static-prune discipline as every other probe).
    *
    * Approximation contract, like every shortlist ANN ([[Ann
    * .queryBinary]] is this plan over a plain table): recall < 1 is
    * possible; `shortlist` >= index size recovers [[query]] exactly.
    *
    * FILTERED search is metadata-aware three ways (r16):
    * (a) manifest per-file stats (integer `metadata.*` lo/hi/nulls,
    * recorded in the footer pass) REFUTE files a supported conjunct
    * can never match — they leave both the probe and the rescore set,
    * and a predicate every file refutes returns the provably-empty
    * exact answer without any I/O; (b) a filter referencing only
    * {id, metadata} is applied IN the signature phase, so the
    * shortlist ranks matching rows only and a selective filter fills
    * k without escalating; (c) filters the signature phase cannot see
    * (other column references) keep the rescore-filter contract, and
    * an underfilled attempt ESCALATES — the shortlist doubles and the
    * probe re-runs, up to `maxEscalations` times ([[lastEscalations]]
    * reports how many fired). Each check is one k-bounded count; a
    * filter too selective to ever fill k stops after the bounded
    * retries with the true underfilled answer. `asOf` serves from an
    * older retained snapshot, same contract as [[query]]'s. */
  def queryApprox(q: Array[Float], k: Int, shortlist: Int = 400,
      filter: Option[Column] = None, asOf: Option[Long] = None,
      maxEscalations: Int = 3): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    lastEscalations = 0
    lastStatsPrunedFiles = 0
    lastFilterPushed = false
    var sl = shortlist
    var res = approxOnce(q, k, sl, filter, asOf)
    if (filter.isDefined) {
      var tries = 0
      // only an APPROX attempt can underfill recoverably: the exact-*
      // exits are already the filter's whole answer.
      // EXHAUSTION EXIT (r20): once the shortlist covers every row the
      // snapshot holds, the attempt already ranked and rescored the
      // whole index — the remaining underfill is the filter's true
      // answer (< k matching rows exist), and further doublings can
      // only repeat the same full-scan attempt. A row-count STALL is
      // NOT a valid exit: probed files grow with the shortlist target,
      // so a plateau at sl can precede growth at 2*sl (q125's very
      // scenario). Unknown row counts (manifests without the rows
      // field) disable the exit rather than risk a false stop.
      val totalRows = snapshotRowCount(asOf)
      while (tries < maxEscalations && lastApproxMode.startsWith("approx") &&
          totalRows.forall(sl < _) && res.count() < k) {
        sl *= 2
        tries += 1
        lastEscalations = tries
        res = approxOnce(q, k, sl, filter, asOf)
      }
    }
    res
  }

  private def approxOnce(q: Array[Float], k: Int, shortlist: Int,
      filter: Option[Column], asOf: Option[Long]): DataFrame = {
    val snap = asOf match {
      case Some(v) =>
        require(snapshots().contains(v),
          s"snapshot $v not present (have ${snapshots().mkString(",")})")
        Some(v)
      case None => currentSnapshot(spark, path)
    }
    val manifest = snap.map(readManifest(spark, path, _))
      .getOrElse(Map.empty[Int, Seq[ManifestFile]])
    val all = manifest.values.flatten.toSeq
    if (all.isEmpty) {
      lastApproxMode = "exact-empty"
      return query(q, k, filter, asOf) // empty index: exact path's empty result
    }
    val n = snap.get
    // metadata-stats pruning FIRST: files whose recorded per-field
    // [lo,hi]/null stats refute a supported filter conjunct can
    // never contribute a match — dropping them both shrinks the
    // probe I/O and stops the shortlist budget being spent on
    // never-matching rows. Unknown stats never prune.
    val preds = filter.map(extractStatPreds).getOrElse(Nil)
    val usable = if (preds.isEmpty) all else all.filter(fileCanMatch(_, preds))
    lastStatsPrunedFiles = all.size - usable.size
    // every file refuted = the predicate is PROVABLY unsatisfiable
    // in this snapshot (refutation is conservative): the empty
    // answer is exact — return it without probing, rescoring, or
    // falling back to a full scan
    if (usable.isEmpty) {
      lastApproxMode = "exact-stats-refuted"
      return emptyIndexDf(spark)
        .select(col("id"), lit(0.0).as("score"), col("metadata"))
    }
    // cell-pruned probe: read only the files of the query cell's
    // expanding Hamming neighborhoods (plus every no-cell file),
    // sized by the manifest's per-file row counts — NOT the whole
    // index's (id,_bsig) pairs. The bits come from the committed
    // manifest's meta header (the layout is part of the commit).
    val bits = manifestMeta(spark, path, n).map(_.sigCellBits)
      .getOrElse(meta.sigCellBits)
    val qsig = Ann.bitSignature64(q.map(_.toDouble), SigSeed)
    val files = selectProbeFiles(usable, bits, qsig, shortlist.toLong * ProbeOversample)
    lastProbeFiles = files.size
    lastManifestFiles = all.size
    // a filter over only {id, metadata} is applied IN the signature
    // phase (those columns are in every data file): the shortlist
    // then ranks matching rows only, so a selective filter fills k
    // without escalations instead of discovering the mismatches at
    // rescore. Filters over other columns keep the rescore-filter +
    // escalation contract.
    val pushable = filter.filter(f =>
      filterRoots(f).exists(_.subsetOf(Set("id", "metadata"))))
    lastFilterPushed = pushable.isDefined
    lastApproxMode =
      if (files.size < all.size) "approx-pruned" else "approx-full"
    // pinned: the shortlist feeds both the bucket-key collect and
    // the rescore join
    val candIds = approxPhases(files, q, shortlist, pushable, Some(n))
      .select(col("id")).localCheckpoint(true)
    topScored(rescore(n, candIds, q, filter), k)
  }

  /** Which path the last [[queryApprox]] took ("exact-empty",
    * "exact-stats-refuted", "approx-pruned", "approx-full") and how many manifest files its signature phase
    * read vs the manifest total — diagnostics for specs and operators
    * (a serving deployment wants to SEE that pruning engages). */
  private[graft] var lastApproxMode: String = ""
  private[graft] var lastProbeFiles: Int = 0
  private[graft] var lastManifestFiles: Int = 0
  /** Files the last probe's metadata-stats pass refuted outright. */
  private[graft] var lastStatsPrunedFiles: Int = 0
  /** Whether the last probe applied its filter in the signature phase. */
  private[graft] var lastFilterPushed: Boolean = false
  /** How many shortlist doublings the last filtered [[queryApprox]]
    * needed to fill k (0 = first attempt sufficed). */
  private[graft] var lastEscalations: Int = 0

  /** BATCH kNN JOIN SERVED FROM THE INDEX (r19) — [[Ann.knnJoinBinary]]
    * driven by the snapshot's stored signatures: for EVERY row of
    * `queries`, its top-k indexed neighbors by the index metric. The
    * bulk-retrieval shape (nightly query logs, RAG-eval batches,
    * embedding dedup-on-ingest: "for each of B new vectors, who is
    * already close?") — B calls of [[queryApprox]] would pay B manifest
    * walks, B driver round-trips and B separate scans; this serves the
    * whole batch in ONE column-pruned pass of the stored (id, _bsig)
    * pairs (8 signature bytes + id per row) plus an exact rescore that
    * reads full vectors ONLY from the manifest files of the buckets
    * the shortlisted candidates hash into.
    *
    * Plan shape: the query batch broadcasts (the batch-vs-corpus
    * orientation — the index side never reshuffles); per (query, row)
    * popcount; per-query top-`shortlist` as a `row_number <=` filter,
    * which Spark 4 plans as WindowGroupLimit — each input partition
    * ships only its local top-shortlist per query, so the exchange
    * carries partitions x B x shortlist NARROW rows, never the scored
    * cross product. The batch path deliberately trades [[queryApprox]]'s
    * per-file CELL pruning for the one shared scan: a batch's union of
    * per-query Hamming neighborhoods approaches the full cell space
    * anyway, and B probes amortize the column-pruned pass they share.
    *
    * Contracts, matching the single-query probes: query dimensions are
    * validated up front (the E2 discipline), and `shortlist >= index
    * size` provably recovers the per-query exact answer. Output: (query_id, rank 1..k, id, score),
    * rank by (score desc, id) — deterministic under ties.
    *
    * FILTERED batch search keeps [[queryApprox]]'s three metadata
    * disciplines: (a) manifest per-file stats REFUTE files a supported
    * conjunct can never match (they leave the signature pass AND the
    * rescore set; a predicate every file refutes returns the provably
    * empty exact answer with no I/O); (b) a filter over only
    * {id, metadata} applies IN the signature pass, so shortlists rank
    * matching rows only; (c) the full filter re-applies at rescore —
    * the correctness authority — and an approx attempt that underfills
    * ANY query's k escalates (shortlist doubles, bounded by
    * `maxEscalations`, one count per attempt). The filter sees the
    * INDEX row (`id`, `values`, `metadata`), same as [[query]]'s. */
  def knnJoin(queries: DataFrame, qIdCol: String, qVecCol: String,
      k: Int, shortlist: Int = 400, filter: Option[Column] = None,
      maxEscalations: Int = 3,
      census: Option[QueryBatchCensus] = None): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    lastKnnEscalations = 0
    val qs = queries.select(col(qIdCol).cast("string").as("_qid"),
        col(qVecCol).cast("array<double>").as("_qv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // ONE aggregation job answers all three pre-checks over the
      // pinned batch (r21 job fusion — these were three separate jobs,
      // a fixed per-job cost paid on every batched probe/ingest):
      // the E2 null/width census (null vectors must fail it too:
      // size(null) is null, so a bare =!= comparison would silently
      // drop the row here and NPE later inside the signature UDF),
      // the batch row count, and the distinct-qid census (duplicate
      // query ids would silently interleave two vectors' rankings
      // under one key — every window partitions by _qid — so refuse
      // loudly instead). A sharded gather passes the census it
      // computed ONCE for the whole set (r22 — the same batch was
      // re-aggregated per shard); the census is dimension-free
      // (min/max width) so each shard still checks its OWN dimension.
      val c = census.getOrElse(queryBatchCensus(qs))
      if (c.nullVecs > 0 || c.minDim.exists(_ != meta.dimension) ||
          c.maxDim.exists(_ != meta.dimension))
        throw new IngestError(
          s"knnJoin: query dimension != index dimension ${meta.dimension}")
      val nQueries = c.rows
      // a NULL qid counts as one window group (distinct().count()
      // semantics — ADVICE r21: countDistinct alone silently rejected
      // a single null-id row with the duplicate-id message); two or
      // more nulls DO interleave under the one null key and are
      // refused like any duplicate
      require(c.distinctQids + math.min(c.nullQids, 1L) == nQueries,
        "knnJoin: duplicate query ids in the batch — every window keys " +
          "on the id, so two vectors under one id would interleave into " +
          "one corrupted ranking; dedupe the batch first")
      val snap = currentSnapshot(spark, path)
      val manifest = snap.map(readManifest(spark, path, _))
        .getOrElse(Map.empty[Int, Seq[ManifestFile]])
      def emptyResult: DataFrame = qs
        .select(col("_qid").as("query_id"), lit(1).as("rank"),
          col("_qid").as("id"), lit(0.0).as("score"))
        .limit(0)
      val all = manifest.values.flatten.toSeq
      if (all.isEmpty) { lastKnnMode = "exact-empty"; return emptyResult }
      // metadata-stats refutation FIRST — the queryApprox discipline
      val preds = filter.map(extractStatPreds).getOrElse(Nil)
      val usableMf = manifest.map { case (b, fs0) =>
        b -> (if (preds.isEmpty) fs0 else fs0.filter(fileCanMatch(_, preds)))
      }
      val files = usableMf.values.flatten.map(_.file).toSeq.sorted
      if (files.isEmpty) { lastKnnMode = "exact-stats-refuted"; return emptyResult }
      val wK = Window.partitionBy(col("_qid"))
        .orderBy(col("score").desc, col("id"))
      def topK(scored: DataFrame): DataFrame = scored
        .withColumn("_rn", row_number().over(wK)).filter(col("_rn") <= k)
        .select(col("_qid").as("query_id"), col("_rn").cast("int").as("rank"),
          col("id"), col("score"))
      // a filter over only {id, metadata} prunes INSIDE the signature
      // pass (those columns are in every data file); other filters keep
      // the rescore-filter + escalation contract
      val pushable = filter.filter(f =>
        filterRoots(f).exists(_.subsetOf(Set("id", "metadata"))))
      val sigs = pushable.foldLeft(
          readSnapshotFiles(spark, path, snap.get, files, mergeSchema = true))(
          (df, f) => df.filter(f))
        .select(col("id"), col("_bsig"))
      lastKnnMode = "approx"
      val sigUdf = udf((v: Seq[Double]) =>
        Ann.bitSignature64(v.toArray, SigSeed))
      val qsigs = qs.withColumn("_qsig", sigUdf(col("_qv")))
        .select(col("_qid"), col("_qsig"))
      val nb = currentNumBuckets(snap)
      def attempt(sl: Int): DataFrame = {
        val wS = Window.partitionBy(col("_qid"))
          .orderBy(col("_hd"), col("id"))
        val pairs = sigs.crossJoin(broadcast(qsigs))
          .select(col("_qid"), col("id"),
            bit_count(col("_bsig").bitwiseXOR(col("_qsig"))).cast("int").as("_hd"))
          .withColumn("_rn", row_number().over(wS))
          .filter(col("_rn") <= sl)
          .select(col("_qid"), col("id"))
          // candidate pairs: at most B x sl — broadcastable by
          // construction; pinned for the bucket-key collect + the join
          .localCheckpoint(true)
        val buckets = pairs
          .select(pmod(xxhash64(col("id")), lit(nb)).cast("int").as("_b"))
          .distinct().collect().map(_.getInt(0)).toSet
        val bFiles = usableMf.collect { case (b, fs0) if buckets(b) => fs0 }
          .flatten.map(_.file).toSeq.sorted
        // a pushed filter can empty the shortlist (e.g. an id predicate
        // no row satisfies): zero candidate files is the provably-empty
        // answer, not a zero-path scan
        if (bFiles.isEmpty) return emptyResult
        val rows = readSnapshotFiles(spark, path, snap.get, bFiles,
            mergeSchema = false)
          .select(col("id"), col("values"), col("metadata"))
        val rescored = rows.join(broadcast(pairs), Seq("id"))
        topK(filter.foldLeft(rescored)((df, f) => df.filter(f))
          .join(broadcast(qs.select(col("_qid"), col("_qv"))), Seq("_qid"))
          .select(col("_qid"), col("id"),
            scoreCols(col("values"), col("_qv")).as("score")))
      }
      var sl = shortlist
      var res = attempt(sl)
      if (filter.isDefined) {
        // escalate while any query underfills k: one k-bounded count
        // per attempt (a filter too selective to ever fill k stops
        // after the bounded retries with the true underfilled answer).
        // EXHAUSTION EXIT (r20): once `sl` covers every signature row
        // the snapshot holds, the attempt's per-query window already
        // ranked EVERY row — the remaining underfill is the filter's
        // true answer, and each further escalation would burn a full
        // B x N signature window plus rescore to recompute it. Unknown
        // row counts disable the exit rather than risk a false stop.
        // The bound sums the PINNED manifest already in hand (the
        // snapshot every attempt serves) — re-resolving the current
        // snapshot here could see a concurrent shrink and fire a false
        // exit against a larger pinned snapshot that escalation would
        // still fill (r20 review).
        var tries = 0
        def underfilled(r: DataFrame): Boolean = {
          val filled = r.groupBy(col("query_id")).count()
            .filter(col("count") >= k).count()
          filled < nQueries // qids verified distinct above
        }
        val totalRows =
          if (all.exists(_.rows.isEmpty)) None
          else Some(all.flatMap(_.rows).sum)
        while (tries < maxEscalations && totalRows.forall(sl < _) &&
            underfilled(res)) {
          sl *= 2
          tries += 1
          lastKnnEscalations = tries
          res = attempt(sl)
        }
      }
      res
    } finally qs.unpersist(blocking = false)
  }

  /** Which path the last [[knnJoin]] took ("exact-empty",
    * "exact-stats-refuted", "approx"). */
  private[graft] var lastKnnMode: String = ""

  /** How many shortlist doublings the last filtered [[knnJoin]] ran
    * (0 = first attempt sufficed, or the exhaustion exit proved no
    * escalation could grow the result). */
  private[graft] var lastKnnEscalations: Int = 0

  /** EMBEDDING DEDUP-ON-INGEST against the index (r19) — the
    * [[Dedup.minhashAgainst]] orientation for vectors, served from the
    * snapshot: flag every batch row whose nearest INDEXED neighbor
    * reaches `threshold` by the index metric, in one [[knnJoin]] pass
    * (k = 1). The semantic-dedup gate a rolling ingest runs before
    * [[upsert]]: "which of these B new embeddings does the 100-TB
    * corpus already hold (or near-hold)?" — batch-vs-corpus, so the
    * corpus is never rescanned per row and never reshuffled.
    *
    * Returns one row PER BATCH ROW: (id, dup_of, score, is_dup) —
    * `dup_of` the nearest indexed id (ties by id, [[knnJoin]]'s
    * contract), null against an empty index; `is_dup` = score >=
    * threshold. A re-ingested id flags as its own duplicate (score 1)
    * — the right answer for dedup-on-ingest, where "already present"
    * is exactly the question. Approximation contract inherits
    * [[knnJoin]]'s: a pruned shortlist can miss a true near-dup
    * (under-flagging, the safe direction for dedup); `shortlist >=
    * index size` makes the verdicts exact. */
  def nearDupAgainst(batch: DataFrame, idCol: String, vecCol: String,
      threshold: Double, shortlist: Int = 400): DataFrame =
    VectorIndex.nearDupVerdicts(knnJoin(batch, idCol, vecCol, k = 1,
      shortlist), batch, idCol, threshold)

  /** Q2 MATRYOSHKA SERVING (r19) — [[Ann.matryoshkaTopK]]'s two-stage
    * MRL trade driven through the snapshot index's STORED layout:
    * shortlist by cosine on the persisted prefix column (`_vpre`, the
    * first `meta.prefixDim` components, written at every snapshot
    * rewrite of an index created with `prefixDim > 0`), then exact
    * full-dim rescore of the shortlist only. The shortlist scan
    * column-prunes to (id, _vpre) — prefixDim/dimension of the vector
    * bytes (a quarter at 16-of-64), the byte-side saving the
    * in-memory operator can only simulate by slicing a full-width
    * read — and the rescore reads full vectors only from the manifest
    * files of the buckets the shortlisted ids hash into (the
    * [[queryApprox]] rescore discipline).
    *
    * Approximation contract, same shape as [[queryApprox]]:
    * `shortlist >= index size` provably recovers [[query]] (every row
    * joins the exact rescore); smaller shortlists trade recall for
    * the narrow prefix read + bounded rescore. `filter` applies at rescore (the correctness authority); `asOf` serves an
    * older retained snapshot. An index not created with a prefix
    * layout refuses loudly — the slice stored is the MRL coarse
    * embedding, and pretending a prefix of an untrained layout ranks
    * meaningfully would be silent recall loss. */
  def queryMatryoshka(q: Array[Float], k: Int, shortlist: Int = 400,
      filter: Option[Column] = None, asOf: Option[Long] = None,
      maxEscalations: Int = 3): DataFrame = {
    require(meta.prefixDim > 0,
      s"index '${meta.name}' has no Matryoshka layout (prefixDim = 0); " +
        "create it with ensure(..., prefixDim = p) to store the prefix " +
        "column this serving path shortlists on")
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    // filtered underfill ESCALATES, the queryApprox/knnJoin contract
    // (r19 review): the prefix shortlist ranks all rows blind to the
    // filter, so a selective filter could otherwise silently return
    // < k rows while the exact answer has k
    lastMatryoshkaEscalations = 0
    var sl = shortlist
    var res = matryoshkaOnce(q, k, sl, filter, asOf)
    if (filter.isDefined) {
      var tries = 0
      // exhaustion exit (r20, the queryApprox discipline): once the
      // shortlist covers every row the snapshot holds, the prefix pass
      // already ranked the whole index — stop; a row-count stall would
      // NOT be sound (a plateau at sl can precede growth at 2*sl).
      val totalRows = snapshotRowCount(asOf)
      while (tries < maxEscalations && lastMatryoshkaMode == "matryoshka" &&
          totalRows.forall(sl < _) && res.count() < k) {
        sl *= 2
        tries += 1
        lastMatryoshkaEscalations = tries
        res = matryoshkaOnce(q, k, sl, filter, asOf)
      }
    }
    res
  }

  private def matryoshkaOnce(q: Array[Float], k: Int, shortlist: Int,
      filter: Option[Column], asOf: Option[Long]): DataFrame = {
    val snap = asOf match {
      case Some(v) =>
        require(snapshots().contains(v),
          s"snapshot $v not present (have ${snapshots().mkString(",")})")
        Some(v)
      case None => currentSnapshot(spark, path)
    }
    val files = snap.map(readManifest(spark, path, _)).getOrElse(Map.empty)
      .values.flatten.toSeq.map(_.file).sorted
    if (files.isEmpty) {
      lastMatryoshkaMode = "exact-empty"
      return query(q, k, filter, asOf)
    }
    lastMatryoshkaMode = "matryoshka"
    // pinned: feeds the bucket-key collect + rescore join
    val candIds = matryoshkaPhases(files, q, shortlist, snap)
      .localCheckpoint(true)
    topScored(rescore(snap.get, candIds, q, filter), k)
  }

  /** [[queryMatryoshka]]'s shortlist phase over a non-empty file list:
    * the prefix-cosine-ranked shortlist ids — the [[approxPhases]]
    * shape with the prefix column in the signature role.
    * `private[graft]` so specs can assert the phase's physical plan
    * (TakeOrderedAndProject + a scan pruned to (id,_vpre) — the full
    * vectors never read in phase 1). */
  private[graft] def matryoshkaPhases(files: Seq[String], q: Array[Float],
      shortlist: Int, ver: Option[Long] = None): DataFrame = {
    require(files.nonEmpty, "matryoshkaPhases needs at least one file")
    // `ver` routes through the snapshot schema cache (see approxPhases)
    val raw = ver match {
      case Some(n) => readSnapshotFiles(spark, path, n, files, mergeSchema = true)
      case None => spark.read.option("mergeSchema", "true")
        .parquet(files.map(f => s"$path/$f"): _*)
    }
    val qPre = lit(q.take(meta.prefixDim).map(_.toDouble))
    raw.select(col("id"), col("_vpre"))
      .withColumn("_ps", vectors.cosine(col("_vpre"), qPre))
      .orderBy(col("_ps").desc, col("id"))
      .limit(shortlist)
      .select(col("id"))
  }

  /** How many shortlist doublings the last filtered [[queryMatryoshka]]
    * needed to fill k (0 = first attempt sufficed). */
  private[graft] var lastMatryoshkaEscalations: Int = 0

  /** Which path the last [[queryMatryoshka]] took ("exact-empty",
    * "matryoshka") — spec/operator diagnostics. */
  private[graft] var lastMatryoshkaMode: String = ""

  /** Total recorded rows of the snapshot `asOf` serves (the current
    * one when None): the sum of the manifest's per-file row counts —
    * a driver-side manifest read, no data I/O. Some(0) for a
    * snapshot-less index (provably empty); None when any manifest
    * file predates the rows field — callers use this as the
    * escalation EXHAUSTION bound (`shortlist >= rowCount` proves an
    * attempt ranked every row), and an unknown count must DISABLE the
    * bound, never fake one. */
  private[graft] def snapshotRowCount(asOf: Option[Long]): Option[Long] =
    asOf.orElse(currentSnapshot(spark, path)) match {
      case None => Some(0L)
      case Some(n) =>
        val files = readManifest(spark, path, n).values.flatten.toSeq
        if (files.exists(_.rows.isEmpty)) None
        else Some(files.flatMap(_.rows).sum)
    }

  /** One shard's SIGNATURE phase for the tightened scatter-gather
    * ([[VectorIndex.queryManyApprox]]): stats-pruned, cell-ring-probed
    * (radius-bounded by `hdBound` when given — see the `maxRing`
    * soundness note on [[VectorIndex.selectProbeFiles]]),
    * Hamming-ranked candidates WITH their distances (the global pool
    * needs them), or empty when the shard provably holds no candidate.
    * `fileTarget` overrides the probed-row coverage target (default
    * `shortlist * ProbeOversample`) — the two-phase parallel gather's
    * PRELIMINARY pass covers only its per-shard share of the global
    * shortlist; ranking stays on `shortlist` either way. `pinSnap`
    * serves a SPECIFIC retained snapshot instead of the current one —
    * the parallel gather pins phase 2 to phase 1's snapshot, so one
    * query never mixes two versions of the same shard when a writer
    * commits between the phases (r20 review). */
  private[graft] def shardSigPhase(q: Array[Float], shortlist: Int,
      filter: Option[Column], hdBound: Option[Int],
      fileTarget: Option[Long] = None,
      pinSnap: Option[Long] = None): ShardPhase =
    pinSnap.orElse(currentSnapshot(spark, path)) match {
      case None => ShardEmpty
      case Some(n) =>
        val manifest = readManifest(spark, path, n)
        val all = manifest.values.flatten.toSeq
        val preds = filter.map(extractStatPreds).getOrElse(Nil)
        val usable = if (preds.isEmpty) all else all.filter(fileCanMatch(_, preds))
        // all files stats-refuted: provably no matching row in the shard
        if (usable.isEmpty) return ShardEmpty
        val bits = manifestMeta(spark, path, n).map(_.sigCellBits)
          .getOrElse(meta.sigCellBits)
        val qsig = Ann.bitSignature64(q.map(_.toDouble), SigSeed)
        val files = selectProbeFiles(usable, bits, qsig,
          fileTarget.getOrElse(shortlist.toLong * ProbeOversample), hdBound)
        if (files.isEmpty) return ShardEmpty
        val pushable = filter.filter(f =>
          filterRoots(f).exists(_.subsetOf(Set("id", "metadata"))))
        val ranked = approxPhases(files, q, shortlist, pushable, Some(n), hdBound)
          .localCheckpoint(true)
        ShardCands(n, ranked, files, all.size)
    }

  /** Exact RESCORE of an id set against snapshot `snap`: reads full
    * rows only from the manifest files of the buckets the ids hash into
    * (stats-refuted files skipped), applies the caller's filter, and
    * returns scored (id, score, metadata) rows with no top-k — the
    * single-index probes take theirs with [[topScored]], the
    * scatter-gather merges shards first. `candIds` is read twice (the
    * bucket-key collect and the broadcast join), so callers pass a
    * pinned or cheap plan. */
  private[graft] def rescore(snap: Long, candIds: DataFrame,
      q: Array[Float], filter: Option[Column]): DataFrame = {
    val manifest = readManifest(spark, path, snap)
    val preds = filter.map(extractStatPreds).getOrElse(Nil)
    val nb = currentNumBuckets(Some(snap))
    val buckets = candIds
      .select(pmod(xxhash64(col("id")), lit(nb)).cast("int").as("_b"))
      .distinct().collect().map(_.getInt(0)).toSet
    val bFiles = manifest.collect { case (b, fs) if buckets(b) => fs }
      .flatten.filter(mf => preds.isEmpty || fileCanMatch(mf, preds))
      .map(_.file).toSeq.sorted
    val rows =
      if (bFiles.isEmpty) emptyIndexDf(spark)
      else readSnapshotFiles(spark, path, snap, bFiles, mergeSchema = false)
        .select(col("id"), col("values"), col("metadata"))
    val rescored = rows.join(broadcast(candIds), "id")
    filter.foldLeft(rescored)((df, f) => df.filter(f))
      .withColumn("score", scoreCol(q))
      .select(col("id"), col("score"), col("metadata"))
  }

  /** [[queryApprox]]'s signature phase over a non-empty probe file
    * list: the shortlist's (id, _hd) rows ranked by Hamming distance
    * `_hd` to the query's signature, from one scan pruned to (id, _bsig).
    * `hdBound` drops rows beyond that distance before ranking (the
    * scatter-gather's global bound: sound, since a cut row could never
    * enter the pool). `private[graft]` so
    * plan-shape specs can assert the phase's physical plan
    * (TakeOrderedAndProject + (id, _bsig)-pruned scan) — invisible from
    * queryApprox's result, whose checkpoint has already executed it. */
  private[graft] def approxPhases(files: Seq[String], q: Array[Float],
      shortlist: Int, preFilter: Option[Column] = None,
      ver: Option[Long] = None, hdBound: Option[Int] = None): DataFrame = {
    require(files.nonEmpty, "approxPhases needs at least one file")
    // `ver` routes the read through the snapshot schema cache; None
    // (diagnostic callers) keeps the uncached inference.
    val raw = ver match {
      case Some(n) => readSnapshotFiles(spark, path, n, files, mergeSchema = true)
      case None => spark.read.option("mergeSchema", "true")
        .parquet(files.map(f => s"$path/$f"): _*)
    }
    // metadata/id-only filter evaluated BEFORE the (id,_bsig) project:
    // the shortlist then contains matching rows only (parquet row-group
    // stats additionally skip within surviving files). The full filter
    // still re-applies at rescore — pushing is a pruning step, never
    // the correctness gate.
    val qsig = Ann.bitSignature64(q.map(_.toDouble), SigSeed)
    val scored = preFilter.foldLeft(raw)((df, f) => df.filter(f))
      .select(col("id"), col("_bsig"))
      .withColumn("_hd", bit_count(col("_bsig").bitwiseXOR(lit(qsig))).cast("int"))
    hdBound.foldLeft(scored)((df, b) => df.filter(col("_hd") <= b))
      .orderBy(col("_hd"), col("id"))
      .limit(shortlist)
      .select(col("id"), col("_hd"))
  }

  /** Q4 fetch by id; `asOf` reads an older retained snapshot (same
    * contract as [[query]]'s — what was this vector before the bad
    * upsert?). */
  def fetch(ids: Seq[String], asOf: Option[Long] = None): DataFrame =
    asOf.map(scanAt).getOrElse(scan()).filter(col("id").isin(ids: _*))

  /** Q4 delete by id — rewrites only the buckets the ids hash into.
    * Same optimistic-concurrency discipline as [[upsert]]. */
  def delete(ids: Seq[String]): Unit =
    retryOnConflict("delete")(deleteOnce(ids))

  /** Recompute-and-retry loop around one optimistic commit attempt: a
    * [[SnapshotConflict]] (another writer committed our target version
    * first) restarts the WHOLE body — current version, manifest, merge
    * inputs and bucket layout are all re-read, so the retry folds into
    * the winner's state instead of overwriting it. Anything else
    * propagates. */
  private def retryOnConflict[T](what: String)(body: => T): T = {
    var attempt = 1
    while (true) {
      try return body
      catch {
        case e: SnapshotConflict =>
          if (attempt >= MaxCommitRetries)
            throw new SnapshotConflict(
              s"$what lost the snapshot commit race $attempt times at $path; " +
                s"giving up (${e.getMessage})")
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def deleteOnce(ids: Seq[String]): Unit = {
    val cur = currentSnapshot(spark, path)
    val version = cur.map(_ + 1L).getOrElse(0L)
    import spark.implicits._
    val nb = currentNumBuckets(cur)
    val touched = ids.toDS().select(bucketOf(col("value"), nb))
      .distinct().collect().map(_.getInt(0)).toSet
    val manifest = cur.map(readManifest(spark, path, _))
      .getOrElse(Map.empty[Int, Seq[ManifestFile]])
    val oldFiles = touched.toSeq.sorted.flatMap(manifest.getOrElse(_, Nil)).map(_.file)
    val remaining = if (oldFiles.isEmpty) emptyIndexDf(spark).withColumn("_bucket", lit(0))
      .limit(0) else {
      readSnapshotFiles(spark, path, cur.get, oldFiles, mergeSchema = false)
        .select(col("id"), col("values"), col("metadata"), col("version"))
        .filter(!col("id").isin(ids: _*))
        .withColumn("_bucket", bucketOf(col("id"), nb))
    }
    writeSnapshot(version, remaining, manifest, touched, nb)
  }

  /** Re-bucket the index into a different bucket count and return a
    * handle bound to the new layout (this handle's meta is stale after
    * the call). A grown index wants more buckets so per-batch upserts
    * stay proportional to batch size; this is the one inherently
    * O(index) maintenance rewrite, done as a normal snapshot commit —
    * readers of older snapshots are untouched, and the next upsert
    * rewrites only new-layout buckets. */
  def rebucket(newNumBuckets: Int): VectorIndex = {
    require(newNumBuckets > 0, "newNumBuckets must be positive")
    if (newNumBuckets == meta.numBuckets) return this
    // same optimistic-concurrency discipline as upsert/delete (r17):
    // a rebucket racing other writers re-reads the current snapshot
    // and re-scans — the O(index) rewrite restarts from the winner's
    // committed state rather than resurrecting rows a concurrent
    // delete removed or dropping a concurrent upsert's batch
    retryOnConflict("rebucket") {
      val cur = currentSnapshot(spark, path)
      val version = cur.map(_ + 1L).getOrElse(0L)
      val rebucketed = scan().withColumn("_bucket",
        pmod(xxhash64(col("id")), lit(newNumBuckets)).cast("int"))
      // every bucket is touched: pass an empty carry-forward manifest so
      // the committed manifest references exactly the rewritten files.
      // The manifest header records newNumBuckets, so the layout switch
      // IS the commit — the meta rewrite below is a convenience record,
      // and a crash before it (or a stale handle) still resolves the
      // right hash space from the manifest.
      writeSnapshot(version, rebucketed, Map.empty, Set.empty, newNumBuckets)
    }
    val newMeta = meta.copy(numBuckets = newNumBuckets)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    writeMetaFile(fs, path, newMeta)
    new VectorIndex(spark, path, newMeta)
  }

  /** Write the touched buckets' merged rows under data/v=N, then commit
    * a manifest that carries every untouched bucket's existing files
    * forward by reference — no copy, no rewrite. */
  private def writeSnapshot(version: Long, merged: DataFrame,
      oldManifest: Map[Int, Seq[ManifestFile]], touched: Set[Int],
      numBuckets: Int, preClustered: Boolean = false): Unit = {
    // Each write ATTEMPT gets its own directory: a concurrent or retried
    // writer that computes the same target version can then never
    // overwrite files an already-committed manifest references (the
    // manifest rename below is the single commit point; the loser's
    // orphaned attempt dir is swept by the file-level GC). A plain
    // data/v=N with SaveMode.Overwrite would regress lost-update to
    // corruption of committed snapshots.
    val attempt = java.util.UUID.randomUUID().toString.take(8)
    val dataDir = s"data/v=$version-$attempt"
    // every rewritten row also stores its 64-bit hyperplane signature
    // (8 bytes/row) — what [[queryApprox]]'s shortlist pass reads
    // instead of the vectors
    val withSig0 = Ann.encodeBinary(merged, "values", SigSeed)
    // Matryoshka layout (meta.prefixDim > 0): the vector's first
    // prefixDim components stored as their own narrow column, so
    // [[queryMatryoshka]]'s shortlist pass column-prunes to
    // prefixDim/dimension of the vector bytes. A slice, not a copy of
    // a projection model: MRL-trained embeddings carry their coarse
    // representation in the prefix (Kusupati et al.), so the stored
    // slice IS the low-dim embedding.
    val withSig =
      if (meta.prefixDim <= 0) withSig0
      else withSig0.withColumn("_vpre",
        slice(col("values"), 1, meta.prefixDim))
    // signature-prefix cell as a SECOND layout key inside each bucket:
    // queryApprox's shortlist pass then reads only the files of the
    // query cell's Hamming neighborhood instead of every (id,_bsig)
    // pair in the index. shiftrightunsigned keeps the top bits as a
    // small non-negative dir name; a cell below `cellMinRows` (null
    // `_cell`, see below) lands in the hive default partition, which
    // probes always read.
    // Cluster by bucket FIRST so each bucket lands in few files (the
    // window's id-hash layout would otherwise scatter every bucket
    // across tasks).
    val bits = meta.sigCellBits
    // callers that already shuffled by _bucket (upsert's merge window)
    // skip the redundant exchange — Spark does not elide an explicit
    // repartition even when the child is already hash(_bucket)
    val clustered =
      if (preClustered) withSig
      else withSig.repartition(numBuckets, col("_bucket")) // pinned (r21)
    val laidOut =
      if (bits <= 0) clustered
      else {
        // a cell gets its own directory ONLY when it is file-sized in
        // this write (>= cellMinRows); smaller cells fall into the
        // bucket's default partition, which probes always read. A small
        // index therefore keeps the plain bucket layout's file count
        // (measured 18x blowup at sf0.1 without this valve) while a
        // large one converges to full per-cell pruning — exactly where
        // pruning pays. The window adds NO shuffle: hashing by _bucket
        // already co-locates every (_bucket, cell) group.
        val cell = shiftrightunsigned(col("_bsig"), 64 - bits).cast("int")
        val w = Window.partitionBy(col("_bucket"), cell)
        clustered.withColumn("_cell",
          when(count(lit(1)).over(w) >= meta.cellMinRows, cell))
      }
    laidOut.write.mode(SaveMode.Overwrite)
      .partitionBy((if (bits <= 0) Seq("_bucket") else Seq("_bucket", "_cell")): _*)
      .parquet(s"$path/$dataDir")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // list data files per bucket (one extra `_cell=` level when the cell
    // layout is on) and record each file's row count from its parquet
    // footer — driver metadata I/O proportional to the files this
    // attempt wrote, never to the index
    def dataFiles(dir: Path): Seq[Path] = fs.listStatus(dir).toSeq.flatMap {
      case d if d.isDirectory => dataFiles(d.getPath)
      case f if f.isFile && !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith(".") => Seq(f.getPath)
      case _ => Nil
    }
    val qualified = fs.makeQualified(new Path(path)).toString + "/"
    val bucketDirs = fs.listStatus(new Path(path, dataDir)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("_bucket="))
      .map(d => d.getPath.getName.stripPrefix("_bucket=").toInt -> d.getPath)
    // footer reads fan out over a DEDICATED bounded pool with a commit
    // deadline — sequential per-file metadata I/O would serialize
    // object-store round-trips on the driver, and an unbounded await on
    // the shared global pool would let ONE hung filesystem read wedge
    // the snapshot commit forever (and starve unrelated driver work).
    // A read that misses the deadline commits as rows=None: the file is
    // then simply never cell-pruned (selectProbeFiles already treats
    // unknown counts as always-probe), so a slow store costs pruning
    // efficiency, never the commit.
    val bucketPaths: Seq[(Int, Path)] =
      bucketDirs.flatMap { case (b, dir) => dataFiles(dir).map(b -> _) }
    val counted = countFootersBounded(bucketPaths, qualified)
    val written = counted.groupBy(_._1).map { case (b, fs0) => b -> fs0.map(_._2) }
    val manifest = (oldManifest -- touched) ++ written
    // retention = the asOf rollback window (plus the concurrent-reader
    // guarantee): every retained manifest stays queryable via
    // query/queryApprox/fetch(asOf). Minimum 2 — a pinned reader must
    // always survive the commit that supersedes its snapshot. Validated
    // BEFORE the manifest commit so a bad setting fails the write, not
    // the cleanup after a publish.
    val keep = spark.conf.get("spark.graft.index.retainSnapshots", "2").toInt
    require(keep >= 2, s"spark.graft.index.retainSnapshots must be >= 2, got $keep")
    // test-only fault-injection seam (same spirit as ForgetSpec's
    // simulated crash windows): hold THIS session's commit open so a
    // spec can deterministically land a competing commit in the race
    // window between version computation and manifest rename. Unset in
    // production; per-session (newSession isolates it), so the
    // competing writer is not delayed.
    spark.conf.getOption("spark.graft.index.testCommitDelayMs")
      .map(_.toLong).filter(_ > 0).foreach(Thread.sleep)
    writeManifest(spark, path, version, manifest, meta.copy(numBuckets = numBuckets))
    pruneOldSnapshots(spark, path, keep)
  }

  /** Fan the footer reads of one write attempt over a fresh bounded
    * daemon pool and collect them under a single deadline
    * (`spark.graft.index.footerTimeoutMs`, default 30s). Futures still
    * pending at the deadline resolve to rows=None — the commit NEVER
    * blocks on a hung read. The pool is per-call and daemon-threaded:
    * shutdownNow() cannot unstick a read blocked in native I/O, but an
    * abandoned thread then holds no commit hostage and dies with the
    * JVM. */
  private def countFootersBounded(bucketPaths: Seq[(Int, Path)],
      qualified: String): Seq[(Int, ManifestFile)] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    if (bucketPaths.isEmpty) return Nil
    val timeoutMs = spark.conf.getOption("spark.graft.index.footerTimeoutMs")
      .map(_.toLong).getOrElse(30000L)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, bucketPaths.size),
      (r: Runnable) => {
        val t = new Thread(r, "graft-footer-read")
        t.setDaemon(true)
        t
      })
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val futures = bucketPaths.map { case (b, p) =>
        (b, p, Future(parquetFooterInfo(p)))
      }
      val deadline = System.nanoTime() + timeoutMs * 1000000L
      futures.map { case (b, p, f) =>
        val leftMs = math.max(0L, (deadline - System.nanoTime()) / 1000000L)
        val (rows, stats, strStats) =
          try Await.result(f,
            scala.concurrent.duration.Duration(leftMs, "ms"))
          catch { case _: java.util.concurrent.TimeoutException =>
            (None, Map.empty[String, FileColStats],
              Map.empty[String, FileStrStats]) }
        (b, ManifestFile(p.toString.stripPrefix(qualified), rows, stats, strStats))
      }
    } finally pool.shutdownNow()
  }

  /** Row count + integer `metadata.*` field stats from ONE parquet
    * footer open; (None, empty) if unreadable (the file stays valid —
    * its cell is just never pruned and no filter ever stats-prunes
    * it). A field's stats are recorded only when EVERY row group
    * carries usable statistics for it — a partial view could refute a
    * file that matches. */
  private def parquetFooterInfo(p: Path)
      : (Option[Long], Map[String, FileColStats], Map[String, FileStrStats]) =
    try {
      import scala.jdk.CollectionConverters._
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(p, spark.sparkContext.hadoopConfiguration)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val blocks = r.getFooter.getBlocks.asScala.toSeq
        val perField = scala.collection.mutable.Map.empty[String, Option[FileColStats]]
        val perStrField = scala.collection.mutable.Map.empty[String, Option[FileStrStats]]
        for (block <- blocks; cc <- block.getColumns.asScala) {
          val path = cc.getPath.toArray
          if (path.length == 2 && path(0) == "metadata" &&
              path(1).forall(c => c.isLetterOrDigit || c == '_')) {
            import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
            val f = path(1)
            val tn = cc.getPrimitiveType.getPrimitiveTypeName
            val st = cc.getStatistics
            val statsUsable = st != null && st.isNumNullsSet
            if (tn == INT32 || tn == INT64) {
              val upd: Option[FileColStats] =
                if (!statsUsable) None
                else {
                  val range =
                    if (!st.hasNonNullValue) (None, None)
                    else st.genericGetMin match {
                      case i: java.lang.Integer =>
                        (Some(i.longValue), Some(st.genericGetMax
                          .asInstanceOf[java.lang.Integer].longValue))
                      case l: java.lang.Long =>
                        (Some(l.longValue), Some(st.genericGetMax
                          .asInstanceOf[java.lang.Long].longValue))
                      case _ => (None, None)
                    }
                  Some(FileColStats(range._1, range._2, st.getNumNulls))
                }
              val merged = (perField.get(f), upd) match {
                case (Some(None), _) | (_, None) => None // one bad group poisons the field
                case (None, u) => u
                case (Some(Some(a)), Some(b)) => Some(FileColStats(
                  (a.lo ++ b.lo).reduceOption(_ min _),
                  (a.hi ++ b.hi).reduceOption(_ max _),
                  a.nulls + b.nulls))
              }
              perField(f) = merged
            } else if (tn == BINARY &&
                cc.getPrimitiveType.getLogicalTypeAnnotation ==
                  org.apache.parquet.schema.LogicalTypeAnnotation.stringType()) {
              // UTF8 string field: byte-wise bounds (parquet's UNSIGNED
              // stats order == Spark's UTF8String order), truncated to
              // StrStatPrefix with sound adjustment (see FileStrStats)
              val upd: Option[FileStrStats] =
                if (!statsUsable) None
                else if (!st.hasNonNullValue)
                  Some(FileStrStats(None, None, st.getNumNulls))
                else {
                  val lo = st.genericGetMin
                    .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
                  val hi = st.genericGetMax
                    .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
                  Some(FileStrStats(Some(truncLo(lo)), truncHi(hi), st.getNumNulls))
                }
              val merged = (perStrField.get(f), upd) match {
                case (Some(None), _) | (_, None) => None
                case (None, u) => u
                case (Some(Some(a)), Some(b)) =>
                  // a group with values but hi=None has NO sound upper
                  // bound (truncation overflow) — that unboundedness
                  // must survive the merge; all-null groups (lo empty)
                  // contribute nothing to either bound
                  val unbounded = (a.lo.nonEmpty && a.hi.isEmpty) ||
                    (b.lo.nonEmpty && b.hi.isEmpty)
                  Some(FileStrStats(
                    (a.lo ++ b.lo).reduceOption((x, y) =>
                      if (compareBytes(x, y) <= 0) x else y),
                    if (unbounded) None
                    else (a.hi ++ b.hi).reduceOption((x, y) =>
                      if (compareBytes(x, y) >= 0) x else y),
                    a.nulls + b.nulls))
              }
              perStrField(f) = merged
            }
          }
        }
        (Some(r.getRecordCount),
          perField.collect { case (f, Some(s)) => f -> s }.toMap,
          perStrField.collect { case (f, Some(s)) => f -> s }.toMap)
      } finally r.close()
    } catch { case scala.util.control.NonFatal(_) =>
      (None, Map.empty, Map.empty)
    }

  private def readManifestData(version: Long): DataFrame = {
    val files = readManifest(spark, path, version).values.flatten.toSeq.map(_.file).sorted
    if (files.isEmpty) emptyIndexDf(spark)
    else readSnapshotFiles(spark, path, version, files, mergeSchema = false)
      .select(col("id"), col("values"), col("metadata"), col("version"))
  }

  /** Snapshot DIFF — what changed between two committed versions:
    * one row per affected id with status `added` / `removed` /
    * `changed` (vector OR metadata). The serving-rollback audit:
    * "what did yesterday's upsert actually touch" answered without
    * restoring anything.
    *
    * Manifest-aware, so cost is O(touched buckets), never O(index):
    * snapshots share untouched buckets' files BY REFERENCE, and a
    * bucket rewrite replaces every file of that bucket — rows in
    * files common to both manifests are therefore bit-identical and
    * never read; only the manifests' symmetric difference is scanned
    * and full-outer-joined on id. Ids that round-tripped a rewrite
    * unchanged (their bucket was rewritten for a NEIGHBOR) compare
    * equal and drop out. */
  def diff(v1: Long, v2: Long): DataFrame = {
    def files(v: Long): Set[String] =
      readManifest(spark, path, v).values.flatten.map(_.file).toSet
    val f1 = files(v1)
    val f2 = files(v2)
    def readOnly(v: Long, fs0: Set[String]): DataFrame =
      if (fs0.isEmpty) emptyIndexDf(spark)
      else readSnapshotFiles(spark, path, v, fs0.toSeq.sorted, mergeSchema = false)
        .select(col("id"), col("values"), col("metadata"))
    val a = readOnly(v1, f1 -- f2).select(col("id").as("_id1"),
      col("values").as("_v1"), col("metadata").as("_m1"))
    val b = readOnly(v2, f2 -- f1).select(col("id").as("_id2"),
      col("values").as("_v2"), col("metadata").as("_m2"))
    a.join(b, col("_id1") === col("_id2"), "full_outer")
      .select(coalesce(col("_id1"), col("_id2")).as("id"),
        when(col("_id1").isNull, "added")
          .when(col("_id2").isNull, "removed")
          .when(!(col("_v1") <=> col("_v2")) || !(col("_m1") <=> col("_m2")),
            "changed")
          .otherwise("unchanged").as("status"))
      .filter(col("status") =!= "unchanged")
  }

  /** Test/diagnostic surface: the committed manifest of a snapshot. */
  private[graft] def manifestAt(version: Long): Map[Int, Seq[String]] =
    readManifest(spark, path, version).map { case (b, fs0) => b -> fs0.map(_.file) }

  /** Test/diagnostic surface: manifest entries incl. row counts. */
  private[graft] def manifestEntriesAt(version: Long): Map[Int, Seq[ManifestFile]] =
    readManifest(spark, path, version)
}

object VectorIndex {

  /** Files refuted by the most recent [[VectorIndex.scanStatsPruned]]
    * call in this JVM — observability for the SQL-catalog pruning
    * path, whose index instance is internal to the catalog. */
  @volatile private[graft] var lastScanStatsPruned: Int = 0

  /** SCATTER-GATHER top-k across SHARDED indexes — the serving shape
    * when one snapshot index stops being enough (per-tenant shards,
    * per-time-range shards, or simply 10^12 vectors split across
    * warehouses): query every shard for its own top-k, union the
    * k·shards candidates, re-rank once. Exactness is inherited — each
    * shard's exact top-k is a superset-contributor of the global
    * top-k, so the merged head IS the global answer (the classic
    * distributed-IR merge argument); ties break on id exactly like
    * [[VectorIndex.query]] so the merge is total. Per-shard work is
    * untouched (each shard's own pruning applies); the merge moves
    * only k rows per shard. */
  def queryMany(idxs: Seq[VectorIndex], q: Array[Float], k: Int,
      filter: Option[Column] = None, parallel: Boolean = true): DataFrame = {
    require(idxs.nonEmpty, "queryMany needs at least one index")
    // parallel scatter (r20): query() is lazy but pays a per-shard
    // driver manifest read up front — overlap them. `parallel = false`
    // builds the per-shard plans on the calling thread instead —
    // required when the plan is constructed INSIDE Catalyst analysis
    // (the graft_knn_sharded TVF builder holds the SessionCatalog
    // monitor; pool-thread DataFrame construction would re-enter
    // analysis cross-thread and deadlock on it, the bm25 TVF lesson).
    val perShard =
      if (parallel) inParallel(idxs)(_.query(q, k, filter))
      else idxs.map(_.query(q, k, filter))
    perShard.reduce(_.unionByName(_))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }

  /** SCATTER-GATHER MATRYOSHKA (r19) — [[VectorIndex.queryMatryoshka]]
    * per shard, one k-row merge: the MRL two-stage trade composed
    * across sharded indexes the [[queryMany]] way. Per-shard work is
    * untouched (each shard's own prefix-column pruning, rescore, and
    * filtered escalation apply); only k rows per shard move to the
    * merge. Exactness composes: with `shortlist >=` every shard's size
    * each per-shard search provably equals its exact [[VectorIndex
    * .query]], so the merged head IS the global top-k (the q221
    * distributed-IR argument); pruned shortlists trade per-shard
    * recall exactly as the single-index contract states. No cross-
    * shard shortlist bound is threaded — a prefix-COSINE bound cannot
    * soundly prune another shard's candidates (unlike the Hamming
    * cell-prefix bound [[queryManyApprox]] uses, cosine on a prefix
    * neither lower- nor upper-bounds the full-dim score order). */
  def queryManyMatryoshka(idxs: Seq[VectorIndex], q: Array[Float], k: Int,
      shortlist: Int = 400, filter: Option[Column] = None): DataFrame = {
    require(idxs.nonEmpty, "queryManyMatryoshka needs at least one index")
    // parallel scatter (r20): each shard's two-stage search runs EAGER
    // phases (shortlist checkpoint, escalation counts) — serialized
    // they cost Σ(shards) wall time, overlapped max(shard)
    inParallel(idxs)(_.queryMatryoshka(q, k, shortlist, filter))
      .reduce(_.unionByName(_))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }

  /** BATCH kNN JOIN across SHARDED indexes (r20, [[VectorIndex
    * .knnJoin]]'s scatter form — the final member of the vector
    * scatter family): serve a whole query batch's top-k from N
    * standing shard indexes with no physical merge. Each shard runs
    * its OWN batched join (shared column-pruned (id,_bsig) signature
    * pass, bucket-pruned exact rescore, WindowGroupLimit shortlists,
    * filtered escalation — the single-index contract untouched) and
    * keeps B·k local rows; the gather re-ranks the B·k·shards union
    * per query with [[VectorIndex.knnJoin]]'s exact tie order
    * (score desc, id). Exactness composes by the distributed-IR merge
    * argument: with `shortlist >=` every shard's size each per-shard
    * join provably returns its exact local top-k, and the global top-k
    * of a disjoint union is a subset of the per-shard top-k's — so the
    * merged head IS the exact batch answer (gate q262 hash-matches
    * q239's whole-corpus oracle). Pruned shortlists inherit the
    * per-shard recall contract independently.
    *
    * Shard probes overlap on the [[Par]] pool and pin their k-row
    * results eagerly (max(shard), not Σ(shards), wall time — the
    * [[queryManyApprox]] discipline; each pinned result is B·k rows,
    * so the pins are driver-cheap by construction). Cross-shard ID
    * DISJOINTNESS is trusted per call — a vector upserted into two
    * shards would surface twice in its queries' rankings; certify the
    * set once when it is assembled with [[validateShards]]. */
  /** CERTIFY a vector shard set's id-disjointness (r20, completing the
    * certify-once story across all three index families —
    * [[InvertedIndex.validateShards]] / [[MinhashIndex.validateShards]]
    * for the vector side): the [[mergeIndexes]] id census WITHOUT the
    * merge. Returns the certified total id count across the set. Run
    * once when a shard set is ASSEMBLED (an epoch freezes into the
    * serving set, a tenant onboards); after that every sharded probe
    * ([[queryMany]], [[queryManyApprox]], [[queryManyMatryoshka]],
    * [[knnJoinSharded]], [[nearDupAgainstSharded]]) trusts the
    * certificate instead of paying a cross-shard census per call — a
    * shared id would surface twice in every merged ranking and double
    * its dedup verdicts. Cost: one column-pruned `id` scan of each
    * shard's current-snapshot manifest files (the vectors never move);
    * ids are unique within an index by upsert semantics, so no
    * per-shard distinct is needed. A snapshot-less (empty) shard
    * censuses as zero ids. Throws [[OverlappingSources]] naming the
    * first colliders. */
  def validateShards(spark: SparkSession, paths: Seq[String]): Long = {
    require(paths.size >= 2, "a shard set needs at least two shards")
    require(paths.distinct.size == paths.size,
      s"duplicate shard paths: ${paths.mkString(", ")}")
    val censuses = paths.zipWithIndex.map { case (p, i) =>
      val snap = currentSnapshot(spark, p)
      val m = snap.map(readManifest(spark, p, _))
        .getOrElse(Map.empty[Int, Seq[ManifestFile]])
      val files = m.values.flatten.map(_.file).toSeq.sorted
      val ids =
        if (files.isEmpty)
          spark.range(0).select(col("id").cast("string").as("id"))
        else readSnapshotFiles(spark, p, snap.get, files, mergeSchema = false)
          .select(col("id"))
      (s"m$i", ids.localCheckpoint(eager = true))
    }
    MergeCensus.requireDisjoint(censuses, "id", colliding =>
      throw new OverlappingSources(
        s"shard set shares ids (first ${colliding.length}: " +
          s"${colliding.mkString(", ")}): a shared id would surface " +
          "twice in every sharded probe's merged ranking and double " +
          "its dedup verdicts; delete it from all but one shard " +
          "before serving the set"))
  }

  def knnJoinSharded(idxs: Seq[VectorIndex], queries: DataFrame,
      qIdCol: String, qVecCol: String, k: Int, shortlist: Int = 400,
      filter: Option[Column] = None): DataFrame = {
    require(idxs.nonEmpty, "knnJoinSharded needs at least one index")
    // pin the batch ONCE before the fan-out: each shard's knnJoin
    // re-validates and persists its own view of the queries, and the
    // first shard to finish would otherwise unpersist the cache entry
    // the still-running shards' canonically-equal plans share — the
    // pinned blocks make every per-shard re-read trivially cheap and
    // recompute-free (r20 review)
    val qpin = queries.localCheckpoint(true)
    // ONE batch census for the whole shard set (r22, guide §1.2): every
    // shard's knnJoin ran the identical pre-check aggregation over the
    // same pinned batch — N-1 redundant jobs per sharded call (and per
    // micro-batch on the streaming ingest path)
    val qc = queryBatchCensus(qpin.select(
      col(qIdCol).cast("string").as("_qid"),
      col(qVecCol).cast("array<double>").as("_qv")))
    val perShard = inParallel(idxs)(
      _.knnJoin(qpin, qIdCol, qVecCol, k, shortlist, filter,
          census = Some(qc))
        .localCheckpoint(true))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("id"))
    perShard.map(_.select(col("query_id"), col("id"), col("score")))
      .reduce(_ unionByName _)
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") <= k)
      .select(col("query_id"), col("_rn").cast("int").as("rank"),
        col("id"), col("score"))
  }

  /** EMBEDDING DEDUP-ON-INGEST against a SHARD SET (r20) —
    * [[VectorIndex.nearDupAgainst]] where the standing corpus lives in
    * N unmerged shard indexes: flag every batch row whose nearest
    * neighbor ACROSS the whole set reaches `threshold`, in one
    * [[knnJoinSharded]] pass (k = 1). The per-row verdict depends only
    * on the global nearest neighbor, and the sharded k=1 join returns
    * exactly that (nearest-of-nearests over disjoint shards), so with
    * full shortlists the verdicts equal [[VectorIndex.nearDupAgainst]]
    * on the merged index (spec-asserted; gate q263 hash-matches q240's
    * oracle). Pruned shortlists can only UNDER-flag per shard — still
    * the safe direction for dedup. Returns the [[VectorIndex
    * .nearDupAgainst]] row contract: (id, dup_of, score, is_dup), one
    * row per batch row, `dup_of` null when every shard is empty. */
  def nearDupAgainstSharded(idxs: Seq[VectorIndex], batch: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      shortlist: Int = 400): DataFrame = {
    require(idxs.nonEmpty, "nearDupAgainstSharded needs at least one index")
    nearDupVerdicts(knnJoinSharded(idxs, batch, idCol, vecCol, k = 1,
      shortlist), batch, idCol, threshold)
  }

  /** The dedup-on-ingest verdict tail shared by [[VectorIndex
    * .nearDupAgainst]] and [[nearDupAgainstSharded]] (factored r20
    * review — the twin-path-drift argument): join the k=1 nearest
    * back onto every batch row, flag by threshold, null neighbor ⇒
    * not a dup. */
  private[operators] def nearDupVerdicts(nn0: DataFrame, batch: DataFrame,
      idCol: String, threshold: Double): DataFrame = {
    val nn = nn0.select(col("query_id").as("id"), col("id").as("dup_of"),
      col("score"))
    batch.select(col(idCol).cast("string").as("id"))
      .join(nn, Seq("id"), "left")
      .select(col("id"), col("dup_of"), col("score"),
        (col("score").isNotNull && col("score") >= threshold).as("is_dup"))
  }

  /** One aggregation pass over a (cast) query batch: everything the
    * batched-join pre-checks need, dimension-FREE (min/max vector
    * width instead of a per-index comparison) so one census serves
    * every shard of a set. */
  private[graft] final case class QueryBatchCensus(rows: Long, nullVecs: Long,
      minDim: Option[Int], maxDim: Option[Int], distinctQids: Long,
      nullQids: Long)

  private[graft] def queryBatchCensus(qs: DataFrame): QueryBatchCensus = {
    val r = qs.agg(count(lit(1)), count(when(col("_qv").isNull, 1)),
      min(size(col("_qv"))), max(size(col("_qv"))),
      countDistinct(col("_qid")), count(when(col("_qid").isNull, 1))).head()
    QueryBatchCensus(r.getLong(0), r.getLong(1),
      if (r.isNullAt(2)) None else Some(r.getInt(2)),
      if (r.isNullAt(3)) None else Some(r.getInt(3)),
      r.getLong(4), r.getLong(5))
  }

  /** A shard's contribution to the scatter-gather signature phase. */
  private[graft] sealed trait ShardPhase
  /** No snapshot, every file stats-refuted, or every cell ring beyond
    * the bound: contributes nothing. */
  private[graft] case object ShardEmpty extends ShardPhase
  /** Hamming-ranked candidates (id,_hd) of snapshot `snap` + probe
    * census (`files` = the probed manifest paths, so the two-phase
    * gather can account DISTINCT files across its phases, out of the
    * shard's `totalFiles`). */
  private[graft] final case class ShardCands(snap: Long, ranked: DataFrame,
      files: Seq[String], totalFiles: Int) extends ShardPhase

  /** Scatter-gather over the APPROX serving path (r18; TIGHTENED r19,
    * verdict item #6): at the 10^12-vector regime sharding exists
    * for, composing the exact [[VectorIndex.query]] per shard
    * re-introduces exactly the per-shard O(shard) vector scan the
    * signature shortlist was built to remove.
    *
    * CONTRACT (r19): the candidate set is the union's globally
    * top-`shortlist` signature candidates by (Hamming, id) — what ONE
    * merged index's [[queryApprox]] shortlist would rank; one exact
    * rescore per owning shard; k-row merge.
    * `shortlist` >= the union's size makes the pool exhaustive and
    * the answer provably the exact global top-k (the q221 recovery).
    *
    * THE TIGHTENING (r19: sequential; r20: TWO-PHASE PARALLEL, the
    * verdict's ask): once the candidate pool holds `shortlist` rows,
    * its S-th-best Hamming distance becomes a bound probes run UNDER
    * — their cell rings stop at that radius, so total probed files
    * SHRINK vs N independent probes. Soundness is exact, not
    * heuristic: a file's cell-prefix distance lower-bounds every
    * contained row's full signature distance, so a pruned file
    * provably holds no row that could enter the pool. (A SCORE bound
    * cannot do this: cosine has no deterministic Hamming translation
    * — score-based file pruning would be silent recall loss, the
    * failure mode this module exists to refuse.)
    *
    * The r19 form probed shards one after another (bound evolving
    * left to right), so serving latency was Σ(shards). The r20 form
    * is two BARRIERED phases, each parallel across shards, so latency
    * is max(shard) per phase:
    *  1. PRELIMINARY (parallel, small): every shard probes only
    *     `shortlist` ROWS of nearest cells — 1/ProbeOversample of the
    *     full coverage target — and ranks what it read: enough that
    *     the POOLED candidates fill `shortlist` with each shard's own
    *     nearest rows whenever the union can fill it at all (a
    *     smaller per-shard share gives a bound too weak to prune).
    *  2. GLOBAL BOUND: the pooled S-th-best Hamming distance — from
    *     genuine rows, so it upper-bounds the final S-th best.
    *  3. BOUNDED (parallel, full): every candidate shard re-probes at
    *     the full coverage target UNDER the bound; its candidate set
    *     is the union of both phases' rows (phase 1's rows stay — a
    *     coverage cut in phase 2 must not lose a row already in
    *     hand). Every phase-3 probe runs bounded, so
    *     [[lastManyBoundedProbes]] == candidate shards whenever the
    *     pool filled. [[lastManyProbeFiles]] counts DISTINCT files
    *     per shard across both phases.
    * The final pool is the union's top-`shortlist` by (Hamming, id)
    * exactly as before: any row at Hamming <= bound lives in a file
    * whose cell ring <= bound (probed), and rows beyond the bound
    * cannot displace a pool that already holds `shortlist` rows
    * within it. `sequential = true` keeps the r19 single-threaded
    * form — the reference implementation the parallel path is
    * spec-compared against, and a debugging fallback.
    *
    * A stats-refuted shard contributes nothing. A filtered gather that
    * underfills k ESCALATES globally (shortlist doubles, bound
    * recomputed), up to `maxEscalations`. */
  def queryManyApprox(idxs: Seq[VectorIndex], q: Array[Float], k: Int,
      shortlist: Int = 400, filter: Option[Column] = None,
      maxEscalations: Int = 3, sequential: Boolean = false): DataFrame = {
    require(idxs.nonEmpty, "queryManyApprox needs at least one index")
    // shared gather tail: global pool -> per-shard rescore -> k-merge
    def gather(candShards: Seq[(VectorIndex, ShardCands)], sl: Int): DataFrame = {
      val pool = candShards.map(_._2.ranked).reduceOption(_.unionByName(_))
      val globalIds = pool.map(_.orderBy(col("_hd"), col("id")).limit(sl)
        .select(col("id")).localCheckpoint(true))
      val rescoreParts = candShards.map { case (idx, c) =>
        // this shard rescores its members of the global pool
        val mine = globalIds.map(g =>
            c.ranked.select(col("id")).join(g, Seq("id"), "left_semi"))
          .getOrElse(c.ranked.select(col("id")))
        idx.rescore(c.snap, mine, q, filter)
      }
      rescoreParts.reduceOption(_.unionByName(_))
        .map(topScored(_, k))
        .getOrElse(emptyIndexDf(idxs.head.spark)
          .select(col("id"), lit(0.0).as("score"), col("metadata")))
    }
    // r19 reference form: shards probe one after another, the bound
    // evolving left to right
    def onceSeq(sl: Int): (DataFrame, Boolean) = {
      lastManyProbeFiles = 0
      lastManyBoundedProbes = 0
      var pool: Option[DataFrame] = None // union of (id,_hd) so far
      var bound: Option[Int] = None
      val candShards = Seq.newBuilder[(VectorIndex, ShardCands)]
      var anyApprox = false
      idxs.foreach { idx =>
        idx.shardSigPhase(q, sl, filter, bound) match {
          case ShardEmpty => ()
          case c: ShardCands =>
            anyApprox = true
            lastManyProbeFiles += c.files.size
            if (bound.isDefined) lastManyBoundedProbes += 1
            candShards += ((idx, c))
            pool = Some(pool.map(_.unionByName(c.ranked)).getOrElse(c.ranked))
            val p = pool.get
            if (p.limit(sl).count() >= sl)
              bound = Some(p.orderBy(col("_hd"), col("id")).limit(sl)
                .agg(max(col("_hd"))).head().getInt(0))
        }
      }
      (gather(candShards.result(), sl), anyApprox)
    }
    // r20 two-phase parallel form
    def oncePar(sl: Int): (DataFrame, Boolean) = {
      lastManyProbeFiles = 0
      lastManyBoundedProbes = 0
      // phase 1 exists to fill the pool with sl GOOD rows so a TIGHT
      // bound exists: each shard covers `sl` rows of nearest cells
      // (whole-ring selection overshoots anyway) — 1/ProbeOversample
      // of the full coverage target, which stays phase 2's job, under
      // the bound. A smaller share (sl/N) was tried and produces a
      // WEAK bound: the pool's tail comes from far shards' nearest
      // rows, the S-th best Hamming lands above every cell ring, and
      // phase 2 prunes nothing. If the union is too small to fill the
      // pool the bound stays None and phase 2 degenerates to the r18
      // independent probes — correct, just unpruned.
      val share = math.max(1L, sl.toLong)
      val phase1 = inParallel(idxs)(idx =>
        idx.shardSigPhase(q, sl, filter, None, Some(share)))
      val pool1 = phase1.collect { case c: ShardCands => c.ranked }
        .reduceOption(_.unionByName(_))
      val bound: Option[Int] = pool1.flatMap { p =>
        if (p.limit(sl).count() >= sl)
          Some(p.orderBy(col("_hd"), col("id")).limit(sl)
            .agg(max(col("_hd"))).head().getInt(0))
        else None
      }
      // phase 2: candidate shards re-probe at full coverage UNDER the
      // bound; empty shards keep their phase-1 verdicts. A shard whose
      // PRELIMINARY probe already scanned every file it has skips the
      // re-probe outright — phase 1 was exhaustive, so its ranked
      // top-sl already IS the shard's contribution (small shards hit
      // this constantly; re-probing them would make the two-phase form
      // strictly slower than sequential there).
      val phase2 = inParallel(idxs.zip(phase1)) {
        case (idx, c1: ShardCands) if c1.files.size == c1.totalFiles =>
          (idx, None, c1: ShardPhase)
        case (idx, c1: ShardCands) =>
          // pin phase 2 to phase 1's snapshot: a writer committing
          // between the phases must not make one query mix two
          // versions of the same shard (r20 review)
          (idx, Some(c1), idx.shardSigPhase(q, sl, filter, bound,
            pinSnap = Some(c1.snap)))
        case (idx, other) => (idx, None, other)
      }
      val candShards = Seq.newBuilder[(VectorIndex, ShardCands)]
      phase2.foreach {
        case (_, None, ShardEmpty) => ()
        case (idx, None, c1: ShardCands) =>
          // exhaustive phase 1 (every file scanned): already the
          // shard's full contribution, no bounded re-probe needed
          lastManyProbeFiles += c1.files.size
          if (bound.isDefined) lastManyBoundedProbes += 1
          candShards += ((idx, c1))
        case (idx, Some(c1), c2: ShardCands) =>
          lastManyProbeFiles += (c1.files ++ c2.files).distinct.size
          if (bound.isDefined) lastManyBoundedProbes += 1
          // phase 2's files normally cover phase 1's (8x the row
          // target, same ring order) — then its ranked list alone IS
          // the shard's top-sl and the union below would be two wasted
          // jobs per shard; union only on a genuine coverage cut (the
          // bound or target stopped phase 2's ring loop short of a
          // phase-1 ring), where a row already in hand must not drop
          candShards += ((idx,
            if (c1.files.toSet.subsetOf(c2.files.toSet)) c2
            else c2.copy(ranked = c2.ranked.unionByName(c1.ranked)
              .dropDuplicates("id").localCheckpoint(true))))
        case (_, Some(c1), ShardEmpty) =>
          // every phase-2 ring exceeded the bound: phase 1's rows all
          // sit beyond it too (row Hamming >= its file's ring), so the
          // shard provably holds nothing the pool could keep
          lastManyProbeFiles += c1.files.size
          if (bound.isDefined) lastManyBoundedProbes += 1
      }
      (gather(candShards.result(), sl), phase1.exists(_.isInstanceOf[ShardCands]))
    }
    def once(sl: Int): (DataFrame, Boolean) =
      if (sequential || idxs.size == 1) onceSeq(sl) else oncePar(sl)
    var sl = shortlist
    var (res, anyApprox) = once(sl)
    if (filter.isDefined && anyApprox) {
      var tries = 0
      // exhaustion exit (r20, the queryApprox discipline): once the
      // shortlist covers the UNION's row count, every shard's pass
      // ranked all of its rows — stop; unknown counts disable the exit.
      val unionRows = idxs.map(_.snapshotRowCount(None))
        .foldLeft(Option(0L)) {
          case (Some(a), Some(b)) => Some(a + b)
          case _ => None
        }
      while (tries < maxEscalations && unionRows.forall(sl < _) &&
          res.count() < k) {
        sl *= 2
        tries += 1
        val r = once(sl)
        res = r._1
      }
    }
    res
  }

  /** Diagnostics for the last [[queryManyApprox]]: total signature-
    * phase files probed across shards (DISTINCT per shard across the
    * two-phase form's passes), and how many candidate shards' full
    * probes ran UNDER an engaged global Hamming bound — or provably
    * needed no bounded re-probe because the preliminary pass already
    * scanned every file the shard has (0 = the pool never filled —
    * e.g. exact-recovery shortlists; == candidate shards in the
    * parallel form whenever it did). */
  private[graft] var lastManyProbeFiles: Int = 0
  private[graft] var lastManyBoundedProbes: Int = 0

  /** The scatter phases' bounded driver-side parallelism — see
    * [[Par.inParallel]] (shared with the lexical scatter family). */
  private def inParallel[A, B](items: Seq[A])(f: A => B): Seq[B] =
    Par.inParallel(items)(f)

  /** Seed of the stored `_bsig` hyperplane signatures — fixed so every
    * snapshot (and the query side) hashes the same planes. */
  private[operators] val SigSeed = 42L

  /** Thrown when a writer loses the snapshot commit CAS (the manifest
    * rename): its target version was committed by a concurrent writer
    * first. [[VectorIndex.upsert]]/[[VectorIndex.delete]] retry this
    * automatically up to [[MaxCommitRetries]] times, recomputing the
    * merge against the winner's state; it surfaces only when the race
    * is lost that many times in a row (a pileup the caller should
    * serialize or back off from). */
  final class SnapshotConflict(msg: String) extends IllegalStateException(msg)

  /** Recompute-and-retry budget for a lost snapshot commit race. */
  val MaxCommitRetries = 3

  // ---------- metadata stats pushdown (filtered-ANN file pruning) ----

  /** A filter conjunct a manifest's per-file stats can refute:
    * comparison of an integer `metadata.<field>` against a literal, or
    * a not-null check. Extracted best-effort — anything unsupported is
    * simply not used for pruning (never for correctness: the full
    * filter always re-applies on the rows read). */
  private[graft] sealed trait StatPred { def field: String }
  private[graft] final case class StatCmp(field: String, op: String,
      value: Long) extends StatPred
  private[graft] final case class StatStrCmp(field: String, op: String,
      value: String) extends StatPred
  private[graft] final case class StatNotNull(field: String) extends StatPred

  /** Stored byte-prefix budget for string stats (per field per file in
    * every manifest line — keep it small; 24 bytes of prefix resolves
    * real-world source/tag values completely). */
  private[graft] val StrStatPrefix = 24

  /** Unsigned byte-wise lexicographic compare — parquet UTF8 stats
    * order AND Spark UTF8String order, so one comparison serves both
    * sides of the refutation. */
  private[graft] def compareBytes(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** Lower bound, truncated: a prefix sorts <= every extension, so a
    * plain cut stays a SOUND lower bound. */
  private[graft] def truncLo(b: Array[Byte]): Array[Byte] =
    if (b.length <= StrStatPrefix) b else b.take(StrStatPrefix)

  /** Upper bound, truncated SOUNDLY: cutting alone would under-bound
    * (the prefix sorts below the true value), so the last kept
    * non-0xFF byte is incremented and the tail dropped — the parquet
    * truncator's trick; all-0xFF prefixes have no finite sound bound
    * (None = unbounded above). */
  private[graft] def truncHi(b: Array[Byte]): Option[Array[Byte]] = {
    if (b.length <= StrStatPrefix) return Some(b)
    val p = b.take(StrStatPrefix)
    var i = p.length - 1
    while (i >= 0 && p(i) == 0xff.toByte) i -= 1
    if (i < 0) None
    else {
      val out = p.take(i + 1)
      out(i) = (out(i) + 1).toByte
      Some(out)
    }
  }

  /** Supported conjuncts of `filter` as [[StatPred]]s, read off the
    * Column's unresolved node tree ([[ColumnShim.simplify]] — Spark 4
    * Columns carry ColumnNodes, not catalyst Expressions, until plan
    * resolution). Best-effort: unmodeled shapes contribute nothing. */
  private[graft] def extractStatPreds(filter: Column): Seq[StatPred] = {
    import org.apache.spark.sql.graftshim.ColumnShim
    import ColumnShim.{SAttr, SFunc, SLit, SimpleNode}
    def fieldOf(n: SimpleNode): Option[String] = n match {
      case SAttr(Seq("metadata", f)) => Some(f)
      case SFunc("getField" | "get_field", Seq(SAttr(Seq("metadata")), SLit(f: String))) =>
        Some(f)
      case _ => None
    }
    def longOf(v: Any): Option[Long] = v match {
      case i: Int => Some(i.toLong)
      case l: Long => Some(l)
      case s: Short => Some(s.toLong)
      case b: Byte => Some(b.toLong)
      case _ => None
    }
    def conjuncts(n: SimpleNode): Seq[SimpleNode] = n match {
      case SFunc("and", args) => args.flatMap(conjuncts)
      case other => Seq(other)
    }
    def cmp(a: SimpleNode, v: SimpleNode, op: String): Seq[StatPred] =
      (for {
        f <- fieldOf(a)
        p <- v match {
          case SLit(x) => longOf(x).map(StatCmp(f, op, _))
            .orElse(x match {
              case s: String => Some(StatStrCmp(f, op, s))
              case _ => None
            })
          case _ => None
        }
      } yield p).toSeq
    def flip(op: String): String = op match {
      case "<" => ">"; case "<=" => ">="; case ">" => "<"; case ">=" => "<="
      case other => other
    }
    conjuncts(ColumnShim.simplify(filter)).flatMap {
      case SFunc(op @ ("=" | "<" | "<=" | ">" | ">="), Seq(a, b)) =>
        cmp(a, b, op) ++ cmp(b, a, flip(op))
      case SFunc("isNotNull" | "isnotnull", Seq(a)) =>
        fieldOf(a).map(StatNotNull).toSeq
      case _ => Nil
    }
  }

  /** Can any row of `mf` satisfy every predicate? `true` when unknown
    * (missing stats never refute). The one layout-independent refuter
    * is the all-null case: a comparison is null-rejecting, so a file
    * whose field is null in every row (nulls == rows, no min/max) can
    * never match — the sparse-tag pruning pattern. String bounds may
    * be LOOSE (prefix lo, incremented hi, hi=None = unbounded above —
    * see [[FileStrStats]]): loose bounds only ever prune less, never
    * wrongly. */
  private[graft] def fileCanMatch(mf: ManifestFile, preds: Seq[StatPred]): Boolean = {
    def numAllNull(f: String): Option[Boolean] = mf.stats.get(f).map(s =>
      s.lo.isEmpty && mf.rows.exists(r => r > 0 && s.nulls >= r))
    def strAllNull(f: String): Option[Boolean] = mf.strStats.get(f).map(s =>
      s.lo.isEmpty && s.hi.isEmpty && mf.rows.exists(r => r > 0 && s.nulls >= r))
    preds.forall {
      case StatNotNull(f) =>
        !(numAllNull(f).getOrElse(false) || strAllNull(f).getOrElse(false))
      case StatCmp(f, op, v) =>
        mf.stats.get(f) match {
          case None => true
          case Some(s) =>
            if (numAllNull(f).contains(true)) false
            else (s.lo, s.hi) match {
              case (Some(lo), Some(hi)) => op match {
                case "=" => v >= lo && v <= hi
                case "<" => lo < v
                case "<=" => lo <= v
                case ">" => hi > v
                case ">=" => hi >= v
                case _ => true
              }
              case _ => true
            }
        }
      case StatStrCmp(f, op, v) =>
        mf.strStats.get(f) match {
          case None => true
          case Some(s) =>
            if (strAllNull(f).contains(true)) false
            else {
              val vb = v.getBytes("UTF-8")
              // hi=None means "no sound upper bound" — upper-side
              // checks pass; lo is always defined when values exist
              val loOk: String => Boolean = {
                case "=" => s.lo.forall(lo => compareBytes(vb, lo) >= 0)
                case "<" => s.lo.forall(lo => compareBytes(lo, vb) < 0)
                case "<=" => s.lo.forall(lo => compareBytes(lo, vb) <= 0)
                case _ => true
              }
              val hiOk: String => Boolean = {
                case "=" => s.hi.forall(hi => compareBytes(vb, hi) <= 0)
                case ">" => s.hi.forall(hi => compareBytes(hi, vb) > 0)
                case ">=" => s.hi.forall(hi => compareBytes(hi, vb) >= 0)
                case _ => true
              }
              loOk(op) && hiOk(op)
            }
        }
    }
  }

  /** Root column names the filter references, or None when the node
    * tree contains an unmodeled shape that could HIDE a reference
    * (lambdas, subqueries — [[ColumnShim.SOpaque]] children are not
    * walked, so "unknown" must mean "assume anything"). A filter whose
    * roots are provably within {id, metadata} can be applied in the
    * signature phase (those columns are in every data file), filling k
    * from matching rows instead of discovering mismatches at rescore. */
  private[graft] def filterRoots(f: Column): Option[Set[String]] = {
    import org.apache.spark.sql.graftshim.ColumnShim
    import ColumnShim.{SAttr, SFunc, SLit, SimpleNode}
    def walk(n: SimpleNode): Option[Set[String]] = n match {
      case SAttr(parts) => Some(Set(parts.head))
      case SLit(_) => Some(Set.empty)
      case SFunc(_, args) =>
        args.foldLeft(Option(Set.empty[String])) { (acc, a) =>
          for { s <- acc; t <- walk(a) } yield s ++ t
        }
      case ColumnShim.SOpaque => None
    }
    walk(ColumnShim.simplify(f))
  }

  /** The top `k` of scored (id, score, metadata) rows by (score desc,
    * id) — every probe's final ordering, deterministic under ties. */
  private[graft] def topScored(scored: DataFrame, k: Int): DataFrame =
    scored.orderBy(col("score").desc, col("id")).limit(k)
      .select(col("id"), col("score"), col("metadata"))

  /** Cell ring expansion stops once the probed files cover this many
    * times the requested shortlist (known row counts only): a 6-bit
    * prefix carries limited signal per bit, so probing exactly
    * `shortlist` rows would cost recall — oversampling the candidate
    * pool keeps the pruned shortlist's recall at the full-scan bar
    * while still reading a small fraction of a large index. */
  private[graft] val ProbeOversample = 8L

  /** Probe-file selection for [[VectorIndex.queryApprox]]: all no-cell
    * files (cells below `cellMinRows`, unknown counts)
    * plus the files of the query cell's expanding Hamming rings, until
    * the rings' known row counts reach `target` (or every ring is
    * included — which is how `shortlist >= index` degrades to the
    * full scan and keeps the exactness contract). Pure, so specs can
    * drive it with synthetic manifests. */
  /** `maxRing` (r19, the scatter-gather tightening): cells at prefix
    * Hamming distance > maxRing from the query cell are dropped even
    * inside the row budget — SOUND for gathering every row of full
    * signature distance <= maxRing, because a row's cell-prefix
    * distance lower-bounds its full 64-bit distance (the prefix is a
    * sub-vector of the signature). Files without a cell (`always`)
    * are never dropped: they may hold any row. */
  private[graft] def selectProbeFiles(all: Seq[ManifestFile], bits: Int,
      qsig: Long, target: Long, maxRing: Option[Int] = None): Seq[String] = {
    if (bits <= 0) return all.map(_.file).sorted
    val (celled, always) = all.partition(f => f.cell.isDefined && f.rows.isDefined)
    if (celled.isEmpty) return all.map(_.file).sorted
    val qcell = (qsig >>> (64 - bits)).toInt
    val byRing = celled.groupBy(f => Integer.bitCount(f.cell.get ^ qcell))
    val rings = byRing.keys.toSeq.sorted
      .filter(r => maxRing.forall(r <= _))
    val picked = Seq.newBuilder[ManifestFile]
    var cum = 0L
    var i = 0
    while (i < rings.length && cum < target) {
      val ring = byRing(rings(i))
      picked ++= ring
      cum += ring.iterator.flatMap(_.rows).sum
      i += 1
    }
    (always ++ picked.result()).map(_.file).sorted
  }

  /** Sentinel for "caller did not specify numBuckets" — lets ensure()
    * reopen an existing index without knowing its bucket count while
    * still failing loudly on an EXPLICIT mismatch. */
  val DefaultNumBuckets = 16
  private val UnspecifiedBuckets = -1

  /** Default signature-prefix cell bits for NEW indexes: 64 cells per
    * bucket — enough pruning units that a serving query's signature
    * scan reads a small neighborhood of a large index, few enough that
    * files stay comfortably sized at scale. */
  val DefaultSigCellBits = 6
  private val UnspecifiedCellBits = -1

  /** Default per-write row threshold for a cell to earn its own
    * directory (IndexMeta.cellMinRows). */
  val DefaultCellMinRows = 1024
  private val UnspecifiedCellMinRows = -1
  private val UnspecifiedPrefixDim = -1

  /** Two source indexes of a merge share at least one id — the
    * [[InvertedIndex.OverlappingSources]] analogue for vector shards.
    * Last-write-wins has no meaning ACROSS shards, so a shared id
    * would surface twice in every merged scan and top-k. Thrown
    * BEFORE any byte moves. */
  final class OverlappingSources(msg: String)
    extends IllegalArgumentException(msg)

  /** MERGE N disjoint shard indexes into ONE new index at `out` (r19)
    * — the consolidation companion of [[queryMany]]/[[queryManyApprox]]:
    * those serve shards in place, this folds per-epoch or per-tenant
    * shard BUILDS into one serving index once the shard count, not
    * the vector count, dominates per-query cost (every scatter-gather
    * probe pays a manifest + footer round PER SHARD).
    *
    * Pure FILE TRANSPORT, no rewrite: snapshot data files are
    * immutable parquet keyed by the same pmod(xxhash64(id)) bucket
    * space whenever the layouts agree, so a file of source bucket B
    * is verbatim a file of merged bucket B. Bytes move executor-side
    * via [[DistCopy]] (the driver walks manifest NAMES only); each
    * file's recorded row count and metadata stats carry over verbatim
    * into the merged manifest, so cell pruning and stats pruning
    * serve unchanged with zero footer re-reads. Row `version` stamps
    * carry over too — they record SOURCE history (provenance); the
    * merged index starts its own snapshot line at 1.
    *
    * Contracts, enforced loudly BEFORE any byte moves:
    *  - `out` must be empty (a merge is a create, not an append);
    *  - sources must share the FULL layout meta — dimension, metric,
    *    numBuckets, sigCellBits, cellMinRows, prefixDim — each taken
    *    from its newest manifest header, so a rebucketed source is
    *    judged by its CURRENT layout (mismatched bucket spaces would
    *    misfile probes; mismatched cell bits would mis-prune them);
    *  - id sets must be DISJOINT, verified by a column-pruned id
    *    census across the sources ([[OverlappingSources]] names the
    *    first colliders).
    * After transport the merged id census (read off the copied files)
    * must equal the sum of the source censuses, else the copy was
    * torn and the merge throws instead of committing.
    *
    * The merge holds the [[WriterLock]] lease on the OUTPUT and on
    * EVERY SOURCE for the duration (r20): a second merge into the
    * same target fails fast with WriterConflict instead of
    * interleaving copies into a torn index. Sources should still be
    * quiescent: a concurrent source upsert commits through the
    * manifest CAS without touching this lease, so its rows simply
    * miss the merge, and a concurrent source GC fails the transport
    * loudly (copy of a deleted file) rather than tearing it. */
  def mergeIndexes(spark: SparkSession, srcPaths: Seq[String],
      out: String): VectorIndex = {
    require(srcPaths.size >= 2, "merge needs at least two source indexes")
    require(srcPaths.distinct.size == srcPaths.size,
      s"duplicate source paths: ${srcPaths.mkString(", ")}")
    // output lease + every source lease for the transport's duration
    // (the InvertedIndex.mergeIndexes discipline, r20): two concurrent
    // merges into one target would both pass the must-be-empty check
    // and interleave overwrite=true copies into a torn index — and the
    // census reconcile cannot catch the tear when the racers copy the
    // same sources. Regular upsert/delete keep their lock-free
    // manifest CAS; only the merge, whose multi-file transport has no
    // single commit point, needs the lease. withLock never waits, so
    // a busy source fails fast (no deadlock ordering concern).
    def locked[T](ps: List[String])(body: => T): T = ps match {
      case Nil => body
      case h :: t =>
        WriterLock.withLock(spark, h, "vector mergeIndexes")(locked(t)(body))
    }
    locked((out +: srcPaths).toList) {
    val hconf = spark.sparkContext.hadoopConfiguration
    val outP = new Path(out)
    val fs = outP.getFileSystem(hconf)
    require(!fs.exists(outP) || fs.listStatus(outP).isEmpty,
      s"merge target $out must be empty (merge is a create, not an append)")
    // effective meta per source: the newest manifest header (the
    // layout its committed snapshot was WRITTEN under); the meta file
    // for a snapshot-less source
    val snaps = srcPaths.map(p => p -> currentSnapshot(spark, p))
    val metas = snaps.map { case (p, v) =>
      p -> v.flatMap(manifestMeta(spark, p, _)).getOrElse(readMeta(spark, p))
    }
    require(metas.map(_._2.copy(name = "")).distinct.size == 1,
      "source layouts differ: " +
        metas.map { case (p, m) => s"$p -> $m" }.mkString("; ") +
        " — rebucket/rebuild the outliers onto one layout first (a " +
        "merged probe would otherwise prune the wrong buckets or cells)")
    val meta = metas.head._2
    val srcEntries: Seq[(String, Map[Int, Seq[ManifestFile]])] =
      snaps.map { case (p, v) =>
        p -> v.map(readManifest(spark, p, _)).getOrElse(Map.empty)
      }
    // id-disjointness census: id column only (a column-pruned scan —
    // never the vectors); ids are unique WITHIN an index by upsert
    // semantics, so no per-source distinct is needed
    def idsOf(p: String, v: Option[Long], m: Map[Int, Seq[ManifestFile]]): DataFrame = {
      val files = m.values.flatten.map(_.file).toSeq.sorted
      if (files.isEmpty) spark.range(0).select(col("id").cast("string").as("id"))
      else readSnapshotFiles(spark, p, v.get, files, mergeSchema = false)
        .select(col("id"))
    }
    val censuses = srcEntries.zip(snaps).zipWithIndex.map { case (((p, m), (_, v)), i) =>
      (s"m$i", idsOf(p, v, m).localCheckpoint(eager = true))
    }
    val censusSum = MergeCensus.requireDisjoint(censuses, "id", colliding =>
      throw new OverlappingSources(
        s"source indexes share ids (first ${colliding.length}: " +
          s"${colliding.mkString(", ")}): a shared id would surface " +
          "twice in every merged scan and top-k; delete it from all " +
          "but one source first"))
    // rewrite each source-relative file path under the merged index's
    // v=1 attempt namespace (one namespace per source, so equal part
    // names can never collide); the suffix keeps its _bucket=/_cell=
    // components — the manifest carries bucket membership and
    // ManifestFile.cell parses the cell from the path
    val pairs = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val merged = scala.collection.mutable.Map.empty[Int, Vector[ManifestFile]]
    srcEntries.zipWithIndex.foreach { case ((p, m), i) =>
      m.foreach { case (b, files) =>
        files.foreach { mf =>
          val destRel = s"data/v=1-m$i/${mf.file.stripPrefix("data/")}"
          pairs += ((s"$p/${mf.file}", s"$out/$destRel"))
          merged(b) = merged.getOrElse(b, Vector.empty) :+ mf.copy(file = destRel)
        }
      }
    }
    fs.mkdirs(outP)
    writeMetaFile(fs, out, meta)
    DistCopy.copyFiles(spark, pairs.toSeq, "graft vector mergeIndexes transport")
    // transport reconcile BEFORE the commit: count ids straight off
    // the copied files — a lost or truncated file fails here, not in
    // served top-ks
    val copied = pairs.map(_._2).toSeq.sorted
    val mergedCensus =
      if (copied.isEmpty) 0L
      else spark.read.parquet(copied: _*).select(col("id")).count()
    if (mergedCensus != censusSum)
      throw new IllegalStateException(
        s"merge transport reconcile failed at $out: merged id census " +
          s"$mergedCensus != sum of source censuses $censusSum — the " +
          "copy was torn; delete the target and re-run")
    if (merged.nonEmpty)
      writeManifest(spark, out, 1L,
        merged.toMap.map { case (b, v) => b -> (v: Seq[ManifestFile]) }, meta)
    new VectorIndex(spark, out, meta)
    }
  }

  /** G2 create — idempotent like the reference's existence check
    * (streamlit_app.py:46-49). Fails if it exists with different meta
    * (numBuckets/sigCellBits participate only when explicitly passed —
    * they are storage properties of the existing index, not per-open
    * choices). */
  def ensure(spark: SparkSession, path: String, dimension: Int,
      metric: Metric = Metric.Cosine, name: String = "textembedding",
      numBuckets: Int = UnspecifiedBuckets,
      sigCellBits: Int = UnspecifiedCellBits,
      cellMinRows: Int = UnspecifiedCellMinRows,
      prefixDim: Int = UnspecifiedPrefixDim): VectorIndex = {
    require(sigCellBits == UnspecifiedCellBits ||
      (sigCellBits >= 0 && sigCellBits <= 16),
      s"sigCellBits $sigCellBits out of range [0,16]")
    require(cellMinRows == UnspecifiedCellMinRows || cellMinRows >= 1,
      s"cellMinRows $cellMinRows must be >= 1")
    require(prefixDim == UnspecifiedPrefixDim ||
      (prefixDim >= 0 && prefixDim <= dimension),
      s"prefixDim $prefixDim out of range [0, $dimension]")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaPath = new Path(path, "_graft_meta.json")
    // A crash inside writeMetaFile's delete-then-rename window leaves
    // meta MISSING while committed snapshots remain. Treat "snapshots
    // exist" as "index exists": recover the meta from the newest
    // manifest header (readMeta self-heals) and apply the same
    // mismatch check — a bare exists(metaPath) branch would let
    // ensure(path, wrongDim) silently rebrand a populated index.
    if (fs.exists(metaPath) || listSnapshots(spark, path).nonEmpty) {
      val existing = readMeta(spark, path)
      require(existing.dimension == dimension && existing.metric == metric &&
        (numBuckets == UnspecifiedBuckets || existing.numBuckets == numBuckets) &&
        (sigCellBits == UnspecifiedCellBits || existing.sigCellBits == sigCellBits) &&
        (cellMinRows == UnspecifiedCellMinRows || existing.cellMinRows == cellMinRows) &&
        (prefixDim == UnspecifiedPrefixDim || existing.prefixDim == prefixDim),
        s"index exists with different meta: $existing")
      new VectorIndex(spark, path, existing)
    } else {
      val meta = IndexMeta(name, dimension, metric,
        if (numBuckets == UnspecifiedBuckets) DefaultNumBuckets else numBuckets,
        if (sigCellBits == UnspecifiedCellBits) DefaultSigCellBits else sigCellBits,
        if (cellMinRows == UnspecifiedCellMinRows) DefaultCellMinRows else cellMinRows,
        if (prefixDim == UnspecifiedPrefixDim) 0 else prefixDim)
      fs.mkdirs(new Path(path))
      writeMetaFile(fs, path, meta)
      new VectorIndex(spark, path, meta)
    }
  }

  def open(spark: SparkSession, path: String): VectorIndex =
    new VectorIndex(spark, path, readMeta(spark, path))

  /** G1 list indexes under a root dir. */
  def list(spark: SparkSession, root: String): Seq[String] = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootPath)) Seq.empty
    else fs.listStatus(rootPath).toSeq
      .filter(s => s.isDirectory && fs.exists(new Path(s.getPath, "_graft_meta.json")))
      .map(_.getPath.getName)
  }

  private def metaJson(meta: IndexMeta): String =
    s"""{"name":"${meta.name}","dimension":${meta.dimension},""" +
      s""""metric":"${meta.metric.name}","numBuckets":${meta.numBuckets},""" +
      s""""sigCellBits":${meta.sigCellBits},"cellMinRows":${meta.cellMinRows},""" +
      s""""prefixDim":${meta.prefixDim}}"""

  /** Write `_graft_meta.json` as tmp + rename — the same discipline as
    * writeManifest — so a crash mid-write can never leave a truncated
    * meta file (a plain overwriting create() truncates first, and an
    * interrupted write then makes the whole index unopenable even
    * though manifests and data are intact). */
  private def writeMetaFile(fs: org.apache.hadoop.fs.FileSystem, path: String,
      meta: IndexMeta): Unit = {
    val target = new Path(path, "_graft_meta.json")
    val tmp = new Path(path,
      s"._graft_meta.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, true)
    out.write(metaJson(meta).getBytes("UTF-8"))
    out.close()
    // rename-over-existing fails on most filesystems: delete, then
    // rename. The window between the two leaves the meta MISSING (not
    // truncated), which readMeta repairs from the manifest header.
    if (fs.exists(target)) fs.delete(target, false)
    if (!fs.rename(tmp, target)) {
      fs.delete(tmp, false)
      throw new IllegalStateException(s"could not commit _graft_meta.json at $path")
    }
  }

  // minimal parse of the fixed shape metaJson writes; absent keys take
  // the value the layout had before the key existed (old manifests /
  // meta files round-trip unchanged)
  private def parseMeta(txt: String): IndexMeta = {
    def field(k: String): String =
      txt.split(s""""$k":""")(1).split("[,}]")(0).trim.stripPrefix("\"").stripSuffix("\"")
    val buckets = if (txt.contains(""""numBuckets":""")) field("numBuckets").toInt else 16
    val cellBits = if (txt.contains(""""sigCellBits":""")) field("sigCellBits").toInt else 0
    val minRows = if (txt.contains(""""cellMinRows":""")) field("cellMinRows").toInt else 1024
    val preDim = if (txt.contains(""""prefixDim":""")) field("prefixDim").toInt else 0
    IndexMeta(field("name"), field("dimension").toInt, Metric.parse(field("metric")),
      buckets, cellBits, minRows, preDim)
  }

  private def readMeta(spark: SparkSession, path: String): IndexMeta = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val direct = try {
      val in = fs.open(new Path(path, "_graft_meta.json"))
      val txt = scala.io.Source.fromInputStream(in).mkString
      in.close()
      Some(parseMeta(txt))
    } catch { case scala.util.control.NonFatal(_) => None }
    direct.getOrElse {
      // meta file missing or unreadable: every committed manifest
      // carries a full copy in its header, so an index with at least
      // one snapshot stays openable — recover from the newest one and
      // self-heal the meta file.
      val recovered = listSnapshots(spark, path).lastOption
        .flatMap(manifestMeta(spark, path, _))
        .getOrElse(throw new IllegalStateException(
          s"index at $path: _graft_meta.json unreadable and no committed " +
            "manifest carries a meta header to recover from"))
      writeMetaFile(fs, path, recovered)
      recovered
    }
  }

  // ---------- manifest I/O ----------

  /** Per-file column statistics for ONE integer `metadata.*` field,
    * aggregated over the file's parquet row groups in the same bounded
    * footer pass that reads row counts: [lo, hi] over non-null values
    * (None when every value is null) and the null count. A filtered
    * probe uses them to REFUTE files a metadata predicate can never
    * match — the sparse-tag pattern (a field null except where a later
    * batch stamped it) prunes every untouched bucket's files even
    * though the id-hash layout never clusters by metadata. */
  private[graft] final case class FileColStats(
      lo: Option[Long], hi: Option[Long], nulls: Long)

  /** String-field sibling of [[FileColStats]]: byte-wise bounds over a
    * UTF8 `metadata.*` field. `lo` may be a stored PREFIX of the true
    * minimum (a prefix sorts <= every extension, so it stays a sound
    * lower bound); `hi` is adjusted UPWARD at record time when
    * truncated (last kept byte incremented, parquet's own truncator
    * trick) or dropped entirely when no sound bound fits — so both
    * bounds are always safe to refute against, never tight-but-wrong.
    * Byte-wise compare matches both parquet's UNSIGNED UTF8 stats
    * order and Spark's UTF8String comparison, so the same literal
    * refutes identically in all three places. */
  private[graft] final case class FileStrStats(
      lo: Option[Array[Byte]], hi: Option[Array[Byte]], nulls: Long)

  /** One committed data file: relative path + its row count (None for
    * files first committed before counts were recorded — their cells
    * are never pruned, see [[selectProbeFiles]]) + per-field metadata
    * stats (empty for pre-stats files — never stats-pruned). The
    * signature-prefix cell is not stored separately: it is the
    * `_cell=` component of the file's path (a LAYOUT key, like
    * `_bucket=`). */
  private[graft] final case class ManifestFile(file: String, rows: Option[Long],
      stats: Map[String, FileColStats] = Map.empty,
      strStats: Map[String, FileStrStats] = Map.empty) {
    /** The file's signature-prefix cell, parsed from its partition path;
      * None for pre-cell files and the null-signature default partition
      * (both are always probed). */
    def cell: Option[Int] = CellRe.findFirstMatchIn(file).map(_.group(1).toInt)
  }
  private val CellRe = "_cell=(\\d+)".r

  private def manifestPath(path: String, version: Long): Path =
    new Path(path, s"snapshot=$version/manifest")

  /** Lines of "bucket<TAB>relative-file"; commit = rename of a finished
    * PER-ATTEMPT temp file (two racing writers never write the same tmp
    * path), so a manifest either exists complete or not at all. The
    * loser of a same-version race is detected by the exists-check +
    * rename failure and throws instead of replacing the winner. On HDFS
    * rename-onto-existing fails atomically; on a raw local FS the
    * exists-check narrows but cannot fully close the window — single
    * JVM there, where it is exact. */
  private[graft] def writeManifest(spark: SparkSession, path: String, version: Long,
      manifest: Map[Int, Seq[ManifestFile]], idxMeta: IndexMeta): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val finalPath = manifestPath(path, version)
    fs.mkdirs(finalPath.getParent)
    val tmp = new Path(finalPath.getParent,
      s".manifest.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, true)
    // header records the hash space this snapshot was written under —
    // the layout is part of the commit, not of the mutable meta file.
    // The full meta copy makes every commit a recovery point for a
    // lost/corrupt _graft_meta.json (see readMeta). Each file line
    // optionally carries the file's row count as a third field —
    // carried-forward files keep theirs, so a probe can size cell
    // neighborhoods without touching any footer.
    // Each file line: bucket \t file [\t rows] [\t s:field=lo,hi,nulls
    // ...] [\t t:field=b64lo,b64hi,nulls ...] — integer stats under
    // "s:", string-field byte bounds base64'd under "t:". Stats fields
    // are self-describing and only written for identifier-named
    // fields, so the tab-separated format stays unambiguous;
    // carried-forward files keep their recorded stats.
    val b64 = java.util.Base64.getEncoder
    val body = (Seq(s"#numBuckets=${idxMeta.numBuckets}", s"#meta=${metaJson(idxMeta)}") ++
      manifest.toSeq.sortBy(_._1)
        .flatMap { case (b, files) => files.sortBy(_.file).map { mf =>
          val statCols = mf.stats.toSeq.sortBy(_._1).map { case (f, s) =>
            s"\ts:$f=${s.lo.getOrElse("")},${s.hi.getOrElse("")},${s.nulls}"
          }.mkString
          val strCols = mf.strStats.toSeq.sortBy(_._1).map { case (f, s) =>
            s"\tt:$f=${s.lo.map(b64.encodeToString).getOrElse("")}," +
              s"${s.hi.map(b64.encodeToString).getOrElse("")},${s.nulls}"
          }.mkString
          s"$b\t${mf.file}" + mf.rows.map(r => s"\t$r").getOrElse("") +
            statCols + strCols
        }})
      .mkString("\n")
    out.write(body.getBytes("UTF-8"))
    out.close()
    // Zombie-writer guard: a slow writer whose target version K was
    // meanwhile committed by others AND pruned (keep=2) would pass a
    // bare exists-check and commit a manifest referencing data files
    // the file-level GC already deleted. Reject any commit at or below
    // the newest committed snapshot, not just ones that still exist.
    val newest = listSnapshots(spark, path).lastOption.getOrElse(-1L)
    val committed = version > newest && !fs.exists(finalPath) && fs.rename(tmp, finalPath)
    if (!committed) {
      fs.delete(tmp, false)
      throw new SnapshotConflict(
        s"could not commit manifest for snapshot $version " +
          s"(concurrent writer won; newest committed is $newest)")
    }
  }

  /** Parsed-manifest cache (r22, guide §1.2/§5 — driver round-trips
    * were the dominant cost of the probe paths): a committed manifest
    * is IMMUTABLE (written once via tmp + atomic rename, never
    * rewritten), so its parse is memoizable. Every hit is validated
    * against the manifest file's current (modificationTime, length) —
    * one getFileStatus round-trip replaces the open + full read +
    * parse that readManifest/manifestMeta/manifestNumBuckets each
    * paid separately per probe. A deleted-and-recreated index at the
    * same path fails the freshness check and re-reads, so the cache
    * can never serve stale state; this is metadata caching with
    * validation (Spark's own file-listing cache discipline), not
    * result caching — every query still computes from the data files.
    *
    * `schemas` sub-cache: the merged parquet schema of a file SUBSET
    * of this snapshot is immutable for the same reason (referenced
    * data files are never mutated), so repeated probes skip the
    * mergeSchema footer JOB (one Spark job per spark.read with
    * mergeSchema=true) and the driver-side footer read of plain
    * reads. Keyed by (mergeSchema flag, sorted file list). */
  private final case class ManifestEntry(
      modTime: Long, len: Long,
      manifest: Map[Int, Seq[ManifestFile]],
      numBuckets: Option[Int],
      idxMeta: Option[IndexMeta],
      schemas: java.util.concurrent.ConcurrentHashMap[String,
        org.apache.spark.sql.types.StructType])
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[String, ManifestEntry]()

  private def manifestEntry(spark: SparkSession, path: String,
      version: Long): ManifestEntry = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mp = manifestPath(path, version)
    val key = fs.makeQualified(mp).toString
    val st = fs.getFileStatus(mp)
    val cached = manifestCache.get(key)
    if (cached != null && cached.modTime == st.getModificationTime &&
        cached.len == st.getLen) return cached
    val in = fs.open(mp)
    val txt = scala.io.Source.fromInputStream(in).mkString
    in.close()
    val lines = txt.split("\n").toSeq
    val numBuckets = lines.headOption.filter(_.startsWith("#numBuckets="))
      .map(_.stripPrefix("#numBuckets=").toInt)
    val idxMeta = lines.find(_.startsWith("#meta="))
      .map(l => parseMeta(l.stripPrefix("#meta=")))
    val manifest = lines.filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { line =>
        val parts = line.split("\t")
        val rest = parts.drop(2)
        val rows = rest.headOption
          .filter(p => !p.startsWith("s:") && !p.startsWith("t:"))
          .map(_.toLong)
        val stats = rest.filter(_.startsWith("s:")).map { p =>
          val Array(f, v) = p.stripPrefix("s:").split("=", 2)
          val Array(lo, hi, nulls) = v.split(",", 3)
          f -> FileColStats(
            if (lo.isEmpty) None else Some(lo.toLong),
            if (hi.isEmpty) None else Some(hi.toLong),
            nulls.toLong)
        }.toMap
        val b64d = java.util.Base64.getDecoder
        val strStats = rest.filter(_.startsWith("t:")).map { p =>
          val Array(f, v) = p.stripPrefix("t:").split("=", 2)
          val Array(lo, hi, nulls) = v.split(",", 3)
          f -> FileStrStats(
            if (lo.isEmpty) None else Some(b64d.decode(lo)),
            if (hi.isEmpty) None else Some(b64d.decode(hi)),
            nulls.toLong)
        }.toMap
        (parts(0).toInt, ManifestFile(parts(1), rows, stats, strStats))
      }
      .groupBy(_._1).map { case (b, fs0) => b -> fs0.map(_._2) }
    // unbounded growth guard: a long-lived JVM touching thousands of
    // manifests (tests, streaming) keeps the map small by wholesale
    // reset — entries rebuild on demand at one read each
    if (manifestCache.size() > 512) manifestCache.clear()
    val e = ManifestEntry(st.getModificationTime, st.getLen, manifest,
      numBuckets, idxMeta,
      new java.util.concurrent.ConcurrentHashMap())
    manifestCache.put(key, e)
    e
  }

  private def readManifest(spark: SparkSession, path: String,
      version: Long): Map[Int, Seq[ManifestFile]] =
    manifestEntry(spark, path, version).manifest

  /** The numBuckets header of a committed manifest (absent on manifests
    * written before the header existed). */
  private def manifestNumBuckets(spark: SparkSession, path: String,
      version: Long): Option[Int] =
    manifestEntry(spark, path, version).numBuckets

  /** The full-meta header of a committed manifest (absent on manifests
    * written before the header existed). */
  private def manifestMeta(spark: SparkSession, path: String,
      version: Long): Option[IndexMeta] =
    manifestEntry(spark, path, version).idxMeta

  /** Read a subset of a committed snapshot's data files with the
    * snapshot's schema cache: the first read of a given (mergeSchema,
    * file set) infers exactly what an uncached read would (mergeSchema
    * footer job / single-footer driver read) and caches the result;
    * every repeat skips the inference outright. Sound because a
    * manifest's referenced files are immutable — same files, same
    * schema, forever. */
  private def readSnapshotFiles(spark: SparkSession, path: String,
      version: Long, relFiles: Seq[String], mergeSchema: Boolean): DataFrame = {
    val entry = manifestEntry(spark, path, version)
    val sortedRel = relFiles.sorted
    val key = (if (mergeSchema) "m:" else "p:") + sortedRel.mkString("\n")
    val paths = sortedRel.map(f => s"$path/$f")
    val cached = entry.schemas.get(key)
    if (cached != null) spark.read.schema(cached).parquet(paths: _*)
    else {
      val df =
        if (mergeSchema) spark.read.option("mergeSchema", "true").parquet(paths: _*)
        else spark.read.parquet(paths: _*)
      entry.schemas.put(key, df.schema)
      df
    }
  }

  private def listSnapshots(spark: SparkSession, path: String): Seq[Long] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Seq.empty
    val snapDirs = fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("snapshot=") => s.stripPrefix("snapshot=").toLong }
    // a committed snapshot with NO manifest is the pre-manifest flat
    // layout (parquet + _SUCCESS directly in the dir). Treating it as
    // empty would silently hide the data and the next upsert would
    // orphan it — fail loudly instead.
    snapDirs.filter(n => !fs.exists(manifestPath(path, n)))
      .foreach { n =>
        if (fs.exists(new Path(p, s"snapshot=$n/_SUCCESS")))
          throw new IllegalStateException(
            s"index at $path: snapshot=$n uses the pre-manifest flat layout; " +
              "rewrite it (scan with the old reader, upsert into a new index) before opening")
      }
    // only snapshots whose manifest committed (rename is the atomic point)
    snapDirs.filter(n => fs.exists(manifestPath(path, n))).sorted
  }

  private def currentSnapshot(spark: SparkSession, path: String): Option[Long] =
    listSnapshots(spark, path).lastOption

  /** Drop old snapshot manifests, then garbage-collect every data file
    * no retained manifest references (file-level GC — a data/v=K dir
    * usually stays partially live because later manifests still point
    * into its untouched buckets). */
  private def pruneOldSnapshots(spark: SparkSession, path: String, keep: Int): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snaps = listSnapshots(spark, path)
    val dropped = snaps.dropRight(keep)
    dropped.foreach(n => fs.delete(new Path(p, s"snapshot=$n"), true))
    // Nothing became unreferenced unless a manifest was just dropped:
    // while every old snapshot is retained, a rewritten bucket's
    // previous files are still referenced by the older manifest, so the
    // recursive data walk below would find nothing — skip it. (The only
    // thing delayed is sweeping a lost same-version race's orphaned
    // attempt files, which the next real drop collects.)
    if (dropped.isEmpty) return
    val retained = listSnapshots(spark, path)
    val referenced = retained
      .flatMap(readManifest(spark, path, _).values.flatten.map(_.file)).toSet
    // files under data/v=K-* with K beyond the newest COMMITTED snapshot
    // belong to an in-flight writer's attempt — not garbage yet. (A lost
    // race's orphans at K <= newest are collected once K is superseded.)
    val newest = retained.lastOption.getOrElse(-1L)
    def inFlight(rel: String): Boolean = rel.startsWith("data/v=") && {
      val v = rel.stripPrefix("data/v=").takeWhile(_.isDigit)
      v.nonEmpty && v.toLong > newest
    }
    val dataRoot = new Path(p, "data")
    if (fs.exists(dataRoot)) {
      val it = fs.listFiles(dataRoot, true)
      val dead = scala.collection.mutable.ArrayBuffer.empty[Path]
      while (it.hasNext) {
        val f = it.next()
        val rel = f.getPath.toString.stripPrefix(fs.makeQualified(p).toString + "/")
        if (f.isFile && !referenced.contains(rel) && !inFlight(rel)) dead += f.getPath
      }
      dead.foreach(fs.delete(_, false))
      // sweep now-empty dirs, but ONLY the lineages that just lost a
      // file — a full per-version per-bucket listStatus loop costs one
      // round-trip per directory and scales with the index, not with
      // this prune's work
      val parents = dead.map(_.getParent).distinct
      def sweepUp(dir: Path): Unit = {
        var d = dir
        while (d != null && d.getName != "data" && !d.getName.startsWith("snapshot=") &&
          fs.exists(d) && fs.listStatus(d).isEmpty) {
          fs.delete(d, false)
          d = d.getParent
        }
      }
      parents.foreach(sweepUp)
    }
  }

  private def emptyIndexDf(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("id", StringType),
        StructField("values", ArrayType(FloatType, containsNull = false)),
        StructField("metadata", StructType(Seq(
          StructField("chunk_index", IntegerType),
          StructField("source", StringType)))),
        StructField("version", LongType))))
  }
}
