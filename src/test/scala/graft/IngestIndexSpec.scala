package graft

import graft.core.{HashingEmbedder, IngestError, Metric}
import graft.operators.{Ingest, VectorIndex}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** End-to-end reference pipeline (SURVEY.md §3.4, §5 item 4): ingest ->
  * chunk -> embed -> index -> top-k query; upsert-twice last-write-wins;
  * delete; dimension rejection. */
class IngestIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = spark.read
    .parquet(s"${TestSpark.sf0001}/documents.parquet")
    .select($"doc_id", $"text", $"source")

  private val embedder = new HashingEmbedder(dimension = 64, seed = 42L)

  /** Spark jobs `body` submits from this thread (and threads it starts).
    * A marker job run afterwards flushes the listener: its start event
    * queues behind every earlier one. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val key = "graft.spec.jobCount"
    val seen = new java.util.concurrent.atomic.AtomicInteger(0)
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty(key))) match {
          case Some("body") => seen.incrementAndGet(): Unit
          case Some("marker") => flushed.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, "body")
      try body finally sc.setLocalProperty(key, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
      assert(flushed.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "listener never saw the marker job")
    } finally sc.removeSparkListener(listener)
    seen.get()
  }

  test("A1/A2/A3: binaryFile scan + extract trait + OCR fallback branch") {
    import graft.sources.{FallbackExtractor, OcrExtractor, Utf8TextExtractor}
    val dir = Files.createTempDirectory("graft_pdfs")
    Files.write(dir.resolve("a.pdf"), "hello pdf one".getBytes("UTF-8"))
    Files.write(dir.resolve("b.pdf"), "   ".getBytes("UTF-8")) // whitespace-only -> OCR path
    Files.write(dir.resolve("skip.txt"), "not a pdf".getBytes("UTF-8")) // glob-filtered
    object FakeOcr extends OcrExtractor {
      override def ocr(content: Array[Byte]): String = "ocr-recovered"
    }
    val out = Ingest.readBinaryDocs(spark, dir.toString,
        new FallbackExtractor(Utf8TextExtractor, FakeOcr))
      .collect().map(r => (r.getString(0).split('/').last, r.getString(1))).toMap
    assert(out.keySet == Set("a.pdf", "b.pdf")) // *.pdf glob excludes skip.txt
    assert(out("a.pdf") == "hello pdf one") // text layer wins
    assert(out("b.pdf") == "ocr-recovered") // empty text layer falls back to OCR
  }

  test("pipeline produces one embedded record per chunk with scoped ids") {
    val out = Ingest.pipeline(docs, embedder,
      Ingest.Config(expectedDim = Some(64))).cache()
    assert(out.count() == 500) // all sf0.001 docs are < 2000 chars -> 1 chunk each
    assert(out.select("id").distinct().count() == 500)
    val r = out.filter($"doc_id" === "7").head()
    assert(r.getAs[String]("id") == "doc-7-0")
    assert(r.getSeq[Float](r.fieldIndex("values")).length == 64)
    assert(r.getAs[org.apache.spark.sql.Row]("metadata").getAs[String]("source") == "uploaded_pdf")
  }

  test("reference id mode enumerates doc-0..doc-n-1 contiguously") {
    val out = Ingest.pipeline(docs.limit(20), embedder,
      Ingest.Config(idMode = Ingest.ReferenceIds))
    val ids = out.select("id").as[String].collect().toSet
    assert(ids == (0 until 20).map(i => s"doc-$i").toSet)
  }

  test("dimension mismatch fails fast (E2)") {
    intercept[Exception] {
      Ingest.pipeline(docs.limit(5), embedder,
        Ingest.Config(expectedDim = Some(384))).count()
    }
  }

  test("empty input rejected (E3)") {
    intercept[IngestError] {
      Ingest.pipeline(docs.filter($"doc_id" < 0), embedder)
    }
  }

  test("index: ensure is idempotent, rejects conflicting meta") {
    val dir = Files.createTempDirectory("graft_idx_meta").toString
    VectorIndex.ensure(spark, s"$dir/idx", 64)
    val again = VectorIndex.ensure(spark, s"$dir/idx", 64)
    assert(again.meta.dimension == 64 && again.meta.metric == Metric.Cosine)
    intercept[IllegalArgumentException] {
      VectorIndex.ensure(spark, s"$dir/idx", 128)
    }
    assert(VectorIndex.list(spark, dir) == Seq("idx"))
  }

  test("upsert rewrites only touched id-buckets; untouched files carried by reference") {
    val dir = Files.createTempDirectory("graft_idx_buckets").toString
    val idx = VectorIndex.ensure(spark, s"$dir/b", 4, numBuckets = 8)
    def recs(ids: Seq[Int], scale: Float) = ids.toDF("n").select(
      concat(lit("r-"), $"n").as("id"),
      array(($"n" * scale).cast("float"), lit(1f), lit(2f), lit(3f)).as("values"),
      struct(lit(0).as("chunk_index"), lit("t").as("source")).as("metadata"))
    idx.upsert(recs(0 until 200, 1f))
    val m0 = idx.manifestAt(0L)
    assert(m0.keySet.size == 8, "200 ids should populate all 8 buckets")

    // small second batch: only the buckets of these 3 ids may be rewritten
    idx.upsert(recs(Seq(5, 17, 123), 10f))
    val m1 = idx.manifestAt(1L)
    val touched = m1.collect { case (b, files) if files != m0(b) => b }.toSet
    assert(touched.nonEmpty && touched.size <= 3,
      s"3 ids must touch at most 3 of 8 buckets, rewrote $touched")
    // untouched buckets reference the snapshot-0 files VERBATIM (same
    // physical paths — carried forward, not copied or rewritten)
    (m1.keySet -- touched).foreach { b =>
      assert(m1(b) == m0(b), s"untouched bucket $b must keep its files")
      assert(m1(b).forall(_.startsWith("data/v=0-")))
    }
    // all new bytes live under v=1, proportional to the touched buckets
    touched.foreach(b => assert(m1(b).forall(_.startsWith("data/v=1-"))))

    // merged view: updated rows visible, count unchanged, last write wins
    assert(idx.scan().count() == 200)
    val got = idx.fetch(Seq("r-17")).select("values").as[Seq[Float]].head()
    assert(got.head == 170f)
    // delete also rewrites only its ids' buckets
    idx.delete(Seq("r-5"))
    val m2 = idx.manifestAt(2L)
    val touched2 = m2.collect { case (b, files) if files != m1(b) => b }.toSet
    assert(touched2.size <= 1 && idx.scan().count() == 199)
    // time travel still sees the pre-delete snapshot
    assert(idx.scanAt(1L).count() == 200)
  }

  test("diff: added/removed/changed between snapshots, shared files never read") {
    val dir = Files.createTempDirectory("graft_idx_diff").toString
    // diff needs both versions inside the retention window
    spark.conf.set("spark.graft.index.retainSnapshots", "10")
    try {
    val idx = VectorIndex.ensure(spark, s"$dir/d", 4, numBuckets = 8)
    def recs(ids: Seq[Int], scale: Float) = ids.toDF("n").select(
      concat(lit("r-"), $"n").as("id"),
      array(($"n" * scale).cast("float"), lit(1f), lit(2f), lit(3f)).as("values"),
      struct(lit(0).as("chunk_index"), lit("t").as("source")).as("metadata"))
    idx.upsert(recs(0 until 50, 1f))                 // v0
    idx.upsert(recs(Seq(3, 4), 10f)                  // changed vectors
      .unionByName(recs(Seq(100, 101), 1f)))         // added — v1
    idx.delete(Seq("r-7", "r-8"))                    // removed — v2
    val out = idx.diff(0L, 2L)
      .as[(String, String)].collect().toMap
    assert(out == Map("r-3" -> "changed", "r-4" -> "changed",
      "r-100" -> "added", "r-101" -> "added",
      "r-7" -> "removed", "r-8" -> "removed"))
    // the fixture really exercises the manifest skip: most buckets are
    // shared between v0 and v2 and their rows never enter the join
    val f0 = idx.manifestAt(0L).values.flatten.toSet
    val f2 = idx.manifestAt(2L).values.flatten.toSet
    assert((f0 & f2).nonEmpty, "fixture must share untouched files")
    // reflexive diff is empty (and reads nothing: no differing files)
    assert(idx.diff(2L, 2L).count() == 0)
    } finally spark.conf.unset("spark.graft.index.retainSnapshots")
  }

  test("queryApprox: full shortlist == exact query; pruned shortlist holds recall; probe and join job counts pinned") {
    val dir = Files.createTempDirectory("graft_idx_approx").toString
    // cellMinRows=1: at 300 rows every cell is tiny, and the default
    // threshold (a small-index file-count valve) would fold them all
    // into the always-probed default partition — this spec wants the
    // cell machinery itself exercised
    val idx = VectorIndex.ensure(spark, s"$dir/a", 16, numBuckets = 8,
      cellMinRows = 1)
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 300).map(n => n -> Array.fill(16)(rnd.nextFloat() * 2f - 1f))
    val recs = vecs.map { case (n, v) =>
      (s"a-$n", v.toSeq, (n % 7, "t"))
    }.toDF("id", "values", "m").select($"id",
      $"values".cast("array<float>").as("values"),
      struct($"m._1".as("chunk_index"), $"m._2".as("source")).as("metadata"))
    idx.upsert(recs)
    val q = vecs(42)._2
    val exact = idx.query(q, 10).select("id").as[String].collect().toSeq
    // shortlist >= index size recovers the exact answer EXACTLY
    val full = idx.queryApprox(q, 10, shortlist = 1000).select("id").as[String].collect().toSeq
    assert(full == exact, s"full-shortlist approx must equal exact: $full vs $exact")
    // pruned shortlist: the signature phase holds recall on the top-10
    val approx = idx.queryApprox(q, 10, shortlist = 60).select("id").as[String].collect().toSet
    assert(approx.intersect(exact.toSet).size >= 7,
      s"recall@10 too low: ${approx.intersect(exact.toSet).size}/10")
    // the self-match always survives any shortlist (hamming distance 0)
    assert(idx.queryApprox(q, 1, shortlist = 1).select("id").as[String].head() == "a-42")
    // the I/O claims, mechanically (on the signature PHASE's own plan —
    // queryApprox's checkpoint has already executed it by result time):
    // TakeOrderedAndProject (per-partition heaps) and a scan pruned to
    // (id, _bsig) — the vectors must not appear in its ReadSchema
    val sigFiles = idx.manifestAt(idx.snapshots().last).values.flatten.toSeq.sorted
    val rankedPlan = idx.approxPhases(sigFiles, q, shortlist = 60)
      .queryExecution.executedPlan.toString
    assert(rankedPlan.contains("TakeOrderedAndProject"),
      s"no top-k heap plan:\n$rankedPlan")
    val sigScans = "ReadSchema: struct<[^>]*".r.findAllIn(rankedPlan).toSeq
      .filter(_.contains("_bsig"))
    assert(sigScans.nonEmpty && sigScans.exists(!_.contains("values")),
      s"shortlist scan must be pruned to (id,_bsig):\n$rankedPlan")
    // CELL PRUNING, mechanically: a small shortlist must make the
    // signature phase read a STRICT SUBSET of the manifest's files
    // (the files of the query cell's Hamming rings plus any no-cell
    // files), while a shortlist >= index size must read every file
    // (the exactness contract's degenerate full scan)
    idx.queryApprox(q, 10, shortlist = 12)
    assert(idx.lastApproxMode == "approx-pruned", s"mode=${idx.lastApproxMode}")
    assert(idx.lastProbeFiles < idx.lastManifestFiles,
      s"pruned shortlist must probe fewer files: " +
        s"${idx.lastProbeFiles}/${idx.lastManifestFiles}")
    idx.queryApprox(q, 10, shortlist = 1000)
    assert(idx.lastApproxMode == "approx-full" &&
      idx.lastProbeFiles == idx.lastManifestFiles,
      s"full shortlist must probe every file: " +
        s"${idx.lastProbeFiles}/${idx.lastManifestFiles} mode=${idx.lastApproxMode}")
    // metadata filter applies at rescore
    val filtered = idx.queryApprox(q, 5, shortlist = 300,
      filter = Some($"metadata.chunk_index" === 0))
    assert(filtered.select("metadata.chunk_index").as[Int].collect().forall(_ == 0))
    // JOB BUDGET: one unfiltered probe and one 4-query batch join, each
    // counted from the call through its collected result. Job counts are
    // exact integers on a fixed fixture, so a change that adds a job to
    // either serving path fails here instead of hiding in latency noise.
    val qs = Seq(3, 42, 99, 250).map(n => (s"q$n", vecs(n)._2.toSeq))
      .toDF("qid", "vec")
    val approxJobs = jobsOf(idx.queryApprox(q, 10, shortlist = 60).collect())
    val joinJobs = jobsOf(idx.knnJoin(qs, "qid", "vec", k = 10, shortlist = 60)
      .collect())
    assert((approxJobs, joinJobs) == ((6, 15)),
      s"jobs per call: queryApprox $approxJobs, knnJoin $joinJobs")
  }

  test("queryMatryoshka: full shortlist == exact; prefix recall holds; phase column-pruned to (id,_vpre); refusal") {
    val dir = Files.createTempDirectory("graft_idx_mrl").toString
    val emb = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val recs = emb.select($"vec_id".cast("string").as("id"),
      $"embedding".as("values"),
      struct(($"vec_id" % 5).cast("int").as("chunk_index"),
        lit("t").as("source")).as("metadata"))
    val idx = VectorIndex.ensure(spark, s"$dir/a", 64, numBuckets = 8,
      prefixDim = 16)
    idx.upsert(recs)
    val n = emb.count().toInt
    val q = emb.filter($"vec_id" === 3).select($"embedding")
      .as[Array[Float]].head()
    val exact = idx.query(q, 10).select("id").as[String].collect().toSeq
    // shortlist >= index size: every row joins the exact rescore
    val full = idx.queryMatryoshka(q, 10, shortlist = n)
      .select("id").as[String].collect().toSeq
    assert(full == exact, s"full-shortlist matryoshka must equal exact: $full vs $exact")
    assert(idx.lastMatryoshkaMode == "matryoshka")
    // pruned prefix shortlist: recall@10 holds on the smooth synthetic
    // embeddings (the AnnSpec bar), self-match survives
    val pre = idx.queryMatryoshka(q, 10, shortlist = 40)
      .select("id").as[String].collect().toSeq
    assert(pre.contains("3"), "self-match must survive the prefix stage")
    assert(exact.toSet.intersect(pre.toSet).size >= 5,
      s"prefix recall collapsed: $pre vs $exact")
    // metadata filter applies at rescore
    val filtered = idx.queryMatryoshka(q, 5, shortlist = n,
      filter = Some($"metadata.chunk_index" === 0))
    assert(filtered.select("metadata.chunk_index").as[Int].collect()
      .forall(_ == 0))
    // filtered UNDERFILL escalates (r19 review): a ~20%-selective
    // filter under a tiny shortlist must still fill k by doubling,
    // not silently return fewer rows
    val esc = idx.queryMatryoshka(q, 5, shortlist = 5,
      filter = Some($"metadata.chunk_index" === 0))
    assert(esc.count() == 5,
      "filtered matryoshka must escalate the shortlist to fill k")
    assert(idx.lastMatryoshkaEscalations > 0,
      "the escalation gauge must record the doublings")
    // the I/O claim, mechanically: the shortlist phase plan is a top-k
    // heap over a scan pruned to (id,_vpre) — the 64-dim vectors never
    // appear in its ReadSchema (the 4x byte cut at 16-of-64)
    val files = idx.manifestAt(idx.snapshots().last).values.flatten.toSeq.sorted
    val rankedPlan = idx.matryoshkaPhases(files, q, shortlist = 40)
      .queryExecution.executedPlan.toString
    assert(rankedPlan.contains("TakeOrderedAndProject"),
      s"no top-k heap plan:\n$rankedPlan")
    val preScans = "ReadSchema: struct<[^>]*".r.findAllIn(rankedPlan).toSeq
      .filter(_.contains("_vpre"))
    assert(preScans.nonEmpty && preScans.exists(!_.contains("values")),
      s"shortlist scan must be pruned to (id,_vpre):\n$rankedPlan")
    // an index without the stored prefix layout refuses loudly
    val plain = VectorIndex.ensure(spark, s"$dir/p", 64, numBuckets = 8)
    plain.upsert(recs.limit(10))
    val e = intercept[IllegalArgumentException] {
      plain.queryMatryoshka(q, 10, shortlist = 100)
    }
    assert(e.getMessage.contains("prefixDim"), e.getMessage)
    // and ensure() on the existing prefix index with a DIFFERENT
    // prefixDim refuses (layout is fixed at creation, like dimension)
    intercept[IllegalArgumentException] {
      VectorIndex.ensure(spark, s"$dir/a", 64, numBuckets = 8, prefixDim = 8)
    }
    // upsert after creation keeps the layout: new snapshot still serves
    idx.upsert(recs.limit(5))
    assert(idx.queryMatryoshka(q, 10, shortlist = n)
      .select("id").as[String].collect().toSeq == exact)
    assert(idx.lastMatryoshkaMode == "matryoshka")
  }

  test("filtered queryApprox escalates an underfilled shortlist instead of silently returning < k") {
    val dir = Files.createTempDirectory("graft_idx_escal").toString
    val idx = VectorIndex.ensure(spark, s"$dir/e", 16, numBuckets = 8,
      cellMinRows = 1)
    val rnd = new scala.util.Random(23)
    val vecs = (0 until 300).map(n => n -> Array.fill(16)(rnd.nextFloat() * 2f - 1f))
    val recs = vecs.map { case (n, v) => (s"e-$n", v.toSeq, (n % 7, "t")) }
      .toDF("id", "values", "m").select($"id",
        $"values".cast("array<float>").as("values"),
        struct($"m._1".as("chunk_index"), $"m._2".as("source")).as("metadata"))
    idx.upsert(recs)
    val q = vecs(42)._2
    // a METADATA-ONLY filter no longer underfills at all (r16): it is
    // applied in the signature phase, so the shortlist ranks matching
    // rows only and k fills at the tightest shortlist with 0 escalations
    val fPush = Some($"metadata.chunk_index" === 3) // ~43 of 300 rows qualify
    assert(idx.queryApprox(q, 10, shortlist = 10, filter = fPush,
      maxEscalations = 0).count() == 10)
    assert(idx.lastFilterPushed && idx.lastEscalations == 0)
    // the escalation net guards filters the signature phase CANNOT see
    // (references beyond {id, metadata}); the values conjunct below is
    // semantically always-true but blocks the push
    val f = Some($"metadata.chunk_index" === 3 && size($"values") === 16)
    // the silent-underfill shape, frozen: a 10-row shortlist keeps ~1-2
    // qualifying rows, and with escalation disabled that is what comes back
    val under = idx.queryApprox(q, 10, shortlist = 10, filter = f,
      maxEscalations = 0).count()
    assert(!idx.lastFilterPushed)
    assert(under < 10, s"fixture must actually underfill at shortlist=10: got $under")
    // escalation: same starting shortlist, bounded doublings -> k rows
    val filled = idx.queryApprox(q, 10, shortlist = 10, filter = f)
    val rows = filled.collect()
    assert(rows.length == 10, s"escalated filtered query must fill k: ${rows.length}")
    assert(idx.lastEscalations >= 1,
      s"the probe count must show the escalation fired: ${idx.lastEscalations}")
    assert(rows.forall(_.getAs[org.apache.spark.sql.Row]("metadata").getInt(0) == 3))
    // an impossible metadata predicate is REFUTED by the manifest stats
    // before any I/O: provably-empty exact answer, no probe, no
    // escalations, no full-scan fallback
    assert(idx.queryApprox(q, 5, shortlist = 10,
      filter = Some($"metadata.chunk_index" === 99)).count() == 0)
    assert(idx.lastApproxMode == "exact-stats-refuted" &&
      idx.lastEscalations == 0, idx.lastApproxMode)
    // a non-pushable, non-refutable filter nothing satisfies stops
    // after the bounded retries with the (true) empty answer
    assert(idx.queryApprox(q, 5, shortlist = 10,
      filter = Some(size($"values") === 17)).count() == 0)
    assert(idx.lastEscalations == 3, "bounded retries must exhaust, then stop")
    // an unfiltered query never escalates
    idx.queryApprox(q, 10, shortlist = 10)
    assert(idx.lastEscalations == 0)
  }

  test("time travel: query/queryApprox serve an older retained snapshot (asOf)") {
    val dir = Files.createTempDirectory("graft_idx_asof").toString
    val idx = VectorIndex.ensure(spark, s"$dir/t", 4, numBuckets = 4,
      cellMinRows = 1)
    def recs(scale: Float) = (0 until 60).toDF("n").select(
      concat(lit("t-"), $"n").as("id"),
      array(($"n" * scale).cast("float"), lit(1f), lit(2f), lit(3f)).as("values"),
      struct(lit(0).as("chunk_index"), lit("t").as("source")).as("metadata"))
    idx.upsert(recs(1f))  // snapshot 0
    val pre = idx.snapshots().last
    idx.upsert(recs(-1f)) // snapshot 1: every vector moved
    val q = Array(10f, 1f, 2f, 3f)
    val atPre = idx.query(q, 5, asOf = Some(pre)).select("id", "score")
      .as[(String, Double)].collect().toSeq
    val atHead = idx.query(q, 5).select("id", "score")
      .as[(String, Double)].collect().toSeq
    assert(atPre != atHead, "moved vectors must change the head answer")
    // the historical answer equals an exact top-k computed from the
    // pinned snapshot's own scan — asOf reads history, not head
    val manual = idx.scanAt(pre)
      .withColumn("score", graft.functions.vectors.cosine($"values",
        lit(q.map(_.toDouble))))
      .orderBy($"score".desc, $"id").limit(5)
      .select("id", "score").as[(String, Double)].collect().toSeq
    assert(atPre == manual)
    // approx at full shortlist degrades to the same historical answer,
    // and its exact fallbacks honor asOf too
    val approxPre = idx.queryApprox(q, 5, shortlist = 1000, asOf = Some(pre))
      .select("id", "score").as[(String, Double)].collect().toSeq
    assert(approxPre == atPre)
    // the historical query keeps the head query's distributed top-k
    // plan (per-partition heaps, no global sort) — asOf only swaps the
    // manifest's file list, never the plan shape
    assert(idx.query(q, 5, asOf = Some(pre)).queryExecution.executedPlan
      .toString.contains("TakeOrderedAndProject"))
    // fetch honors asOf the same way: the pre-upsert vector, not the
    // moved one
    val fPre = idx.fetch(Seq("t-7"), asOf = Some(pre))
      .select($"values").as[Array[Float]].head()
    val fHead = idx.fetch(Seq("t-7"))
      .select($"values").as[Array[Float]].head()
    assert(fPre(0) == 7f && fHead(0) == -7f,
      s"fetch(asOf) must read history: ${fPre(0)} vs ${fHead(0)}")
    // a pruned (not yet retained-out) snapshot is validated loudly
    intercept[IllegalArgumentException] {
      idx.query(q, 5, asOf = Some(99L)).count()
    }
    intercept[IllegalArgumentException] {
      idx.queryApprox(q, 5, asOf = Some(99L)).count()
    }
  }

  test("configurable retention widens the asOf rollback window (and validates its floor)") {
    val dir = Files.createTempDirectory("graft_idx_retain").toString
    val idx = VectorIndex.ensure(spark, s"$dir/w", 4, numBuckets = 2,
      cellMinRows = 1)
    def recs(scale: Float) = (0 until 20).toDF("n").select(
      concat(lit("w-"), $"n").as("id"),
      array(($"n" * scale).cast("float"), lit(1f), lit(2f), lit(3f)).as("values"),
      struct(lit(0).as("chunk_index"), lit("t").as("source")).as("metadata"))
    spark.conf.set("spark.graft.index.retainSnapshots", "4")
    try {
      (1 to 5).foreach(i => idx.upsert(recs(i.toFloat)))
      val snaps = idx.snapshots()
      assert(snaps.size == 4, s"retention 4 must keep 4 snapshots: $snaps")
      // the oldest retained snapshot serves asOf — a 3-writes-deep
      // rollback the default window (2) could not answer
      val old = idx.query(Array(10f, 1f, 2f, 3f), 1, asOf = Some(snaps.head))
        .select($"score").as[Double].head()
      assert(idx.scanAt(snaps.head).count() == 20)
      assert(!old.isNaN)
      // the floor is validated loudly: keep=1 would break pinned readers
      spark.conf.set("spark.graft.index.retainSnapshots", "1")
      intercept[IllegalArgumentException] { idx.upsert(recs(9f)) }
    } finally spark.conf.unset("spark.graft.index.retainSnapshots")
    // back at the default, the window shrinks again on the next commit
    idx.upsert(recs(6f))
    assert(idx.snapshots().size == 2)
  }

  test("rebucket: contents identical, new layout used by later upserts") {
    val dir = Files.createTempDirectory("graft_idx_rebucket").toString
    val idx = VectorIndex.ensure(spark, s"$dir/r", 4, numBuckets = 4)
    def recs(ids: Seq[Int], scale: Float) = ids.toDF("n").select(
      concat(lit("rb-"), $"n").as("id"),
      array(($"n" * scale).cast("float"), lit(1f), lit(2f), lit(3f)).as("values"),
      struct(lit(0).as("chunk_index"), lit("t").as("source")).as("metadata"))
    idx.upsert(recs(0 until 100, 1f))
    val before = idx.scan().select("id", "values").as[(String, Seq[Float])]
      .collect().sortBy(_._1).toSeq
    val wide = idx.rebucket(16)
    assert(wide.meta.numBuckets == 16)
    val after = wide.scan().select("id", "values").as[(String, Seq[Float])]
      .collect().sortBy(_._1).toSeq
    assert(after == before, "rebucket must not change contents")
    assert(wide.manifestAt(wide.snapshots().last).keySet.size > 4,
      "data must spread over the new bucket count")
    // reopen from disk sees the new meta; small upserts touch few buckets
    val reopened = VectorIndex.open(spark, s"$dir/r")
    assert(reopened.meta.numBuckets == 16)
    val m0 = wide.manifestAt(wide.snapshots().last)
    reopened.upsert(recs(Seq(5), 10f))
    val m1 = reopened.manifestAt(reopened.snapshots().last)
    assert(m1.collect { case (b, f) if m0.get(b) != Some(f) => b }.size <= 1,
      "one id must touch at most one of the 16 buckets")
    assert(reopened.scan().count() == 100)
  }

  test("corrupt/missing meta file: open() recovers from the manifest header and self-heals") {
    val dir = Files.createTempDirectory("graft_idx_metarec").toString
    val idx = VectorIndex.ensure(spark, s"$dir/m", 4, numBuckets = 8)
    idx.upsert((0 until 20).toDF("n").select(
      concat(lit("m-"), $"n").as("id"),
      array($"n".cast("float"), lit(1f), lit(2f), lit(3f)).as("values"),
      struct(lit(0).as("chunk_index"), lit("t").as("source")).as("metadata")))
    val metaFile = java.nio.file.Paths.get(s"$dir/m/_graft_meta.json")
    // simulate a crash mid-write: truncated meta
    Files.write(metaFile, Array.empty[Byte])
    val reopened = VectorIndex.open(spark, s"$dir/m")
    assert(reopened.meta.dimension == 4 && reopened.meta.numBuckets == 8)
    assert(reopened.scan().count() == 20)
    // the recovery rewrote the meta file, so a raw read parses again
    assert(new String(Files.readAllBytes(metaFile), "UTF-8").contains("\"dimension\":4"))
    // missing entirely also recovers
    Files.delete(metaFile)
    assert(VectorIndex.open(spark, s"$dir/m").meta.numBuckets == 8)
  }

  test("ensure() with meta missing but snapshots intact recovers instead of rebranding") {
    val dir = Files.createTempDirectory("graft_idx_ensrec").toString
    val idx = VectorIndex.ensure(spark, s"$dir/e", 4, numBuckets = 8)
    idx.upsert((0 until 10).toDF("n").select(
      concat(lit("e-"), $"n").as("id"),
      array($"n".cast("float"), lit(1f), lit(2f), lit(3f)).as("values"),
      struct(lit(0).as("chunk_index"), lit("t").as("source")).as("metadata")))
    // crash inside writeMetaFile's delete-then-rename window: meta gone,
    // snapshots intact
    Files.delete(java.nio.file.Paths.get(s"$dir/e/_graft_meta.json"))
    // a wrong-dimension ensure must FAIL, not write a fresh meta that
    // rebrands the populated index
    intercept[IllegalArgumentException] {
      VectorIndex.ensure(spark, s"$dir/e", 7)
    }
    // the matching ensure recovers from the manifest header and self-heals
    val re = VectorIndex.ensure(spark, s"$dir/e", 4)
    assert(re.meta.numBuckets == 8 && re.scan().count() == 10)
    assert(Files.exists(java.nio.file.Paths.get(s"$dir/e/_graft_meta.json")))
  }

  test("zombie-version manifest commit (at or below newest committed) is rejected") {
    val dir = Files.createTempDirectory("graft_idx_zombie").toString
    val idx = VectorIndex.ensure(spark, s"$dir/z", 4, numBuckets = 4)
    def recs(ids: Seq[Int]) = ids.toDF("n").select(
      concat(lit("z-"), $"n").as("id"),
      array($"n".cast("float"), lit(1f), lit(2f), lit(3f)).as("values"),
      struct(lit(0).as("chunk_index"), lit("t").as("source")).as("metadata"))
    idx.upsert(recs(0 until 10)) // snapshot 0
    idx.upsert(recs(Seq(1)))     // snapshot 1
    idx.upsert(recs(Seq(2)))     // snapshot 2
    idx.upsert(recs(Seq(3)))     // snapshot 3 -> snapshot 0 and 1 pruned (keep=2)
    assert(idx.snapshots() == Seq(2L, 3L))
    // a slow writer targeting the PRUNED version 1 passes a bare
    // exists-check (snapshot=1 is gone) but must still be rejected: its
    // manifest would reference data files the GC already deleted
    intercept[IllegalStateException] {
      VectorIndex.writeManifest(spark, s"$dir/z", 1L, Map.empty, idx.meta)
    }
    // and one targeting the CURRENT newest is rejected too
    intercept[IllegalStateException] {
      VectorIndex.writeManifest(spark, s"$dir/z", 3L, Map.empty, idx.meta)
    }
    assert(idx.snapshots() == Seq(2L, 3L) && idx.scan().count() == 10)
  }

  test("pre-manifest flat snapshot layout is rejected loudly, not read as empty") {
    val dir = Files.createTempDirectory("graft_idx_legacy").toString
    val idx = VectorIndex.ensure(spark, s"$dir/l", 4)
    // simulate a committed snapshot from the old flat layout: _SUCCESS,
    // no manifest — silently treating it as empty would orphan its data
    // on the next upsert
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/l/snapshot=0"))
    Files.write(java.nio.file.Paths.get(s"$dir/l/snapshot=0/_SUCCESS"), Array.empty[Byte])
    intercept[IllegalStateException] { idx.scan() }
  }

  test("snapshot pruning GCs exactly the unreferenced data files") {
    val dir = Files.createTempDirectory("graft_idx_gc").toString
    val root = s"$dir/g"
    val idx = VectorIndex.ensure(spark, root, 4, numBuckets = 4)
    def recs(ids: Seq[Int], scale: Float) = ids.toDF("n").select(
      concat(lit("g-"), $"n").as("id"),
      array(($"n" * scale).cast("float"), lit(1f), lit(2f), lit(3f)).as("values"),
      struct(lit(0).as("chunk_index"), lit("t").as("source")).as("metadata"))
    idx.upsert(recs(0 until 40, 1f))
    val m0 = idx.manifestAt(0L)
    idx.upsert(recs(Seq(3), 2f))
    val m1 = idx.manifestAt(1L)
    val touched = m1.keySet.find(b => m1(b) != m0(b)).get
    // third snapshot over the same bucket pushes snapshot 0 out (keep=2)
    idx.upsert(recs(Seq(3), 3f))
    assert(idx.snapshots() == Seq(1L, 2L))
    def exists(rel: String) = Files.exists(java.nio.file.Paths.get(s"$root/$rel"))
    // v=0 files of UNTOUCHED buckets are still referenced by the retained
    // manifests -> must survive GC (deleting them would destroy the index)
    (m0.keySet - touched).foreach(b =>
      assert(m0(b).forall(exists), s"referenced v0 files of bucket $b were GC'd"))
    // the rewritten bucket's v=0 file is referenced by NO retained
    // manifest -> must be gone (otherwise dead files accumulate forever)
    assert(m0(touched).forall(f => !exists(f)),
      s"unreferenced v0 files of bucket $touched leaked")
    // and the merged view is intact across the GC
    assert(idx.scan().count() == 40)
    assert(idx.fetch(Seq("g-3")).select("values").as[Seq[Float]].head().head == 9f)
  }

  test("stat predicate extraction and per-file refutation semantics") {
    import graft.operators.VectorIndex._
    val preds = extractStatPreds(
      $"metadata.p" === 3 && lit(5) < $"metadata.q" &&
        $"metadata.r".isNotNull && $"values".isNotNull)
    assert(preds == Seq(StatCmp("p", "=", 3L), StatCmp("q", ">", 5L),
      StatNotNull("r")))
    def mf(stats: (String, FileColStats)*) =
      ManifestFile("f", Some(10L), stats.toMap)
    // out-of-range equality refutes; in-range matches
    assert(!fileCanMatch(mf("p" -> FileColStats(Some(0), Some(2), 0)),
      Seq(StatCmp("p", "=", 3))))
    assert(fileCanMatch(mf("p" -> FileColStats(Some(0), Some(5), 0)),
      Seq(StatCmp("p", "=", 3))))
    // all-null refutes every comparison and IsNotNull
    val allNull = mf("p" -> FileColStats(None, None, 10))
    assert(!fileCanMatch(allNull, Seq(StatCmp("p", "=", 3))))
    assert(!fileCanMatch(allNull, Seq(StatCmp("p", "<", 3))))
    assert(!fileCanMatch(allNull, Seq(StatNotNull("p"))))
    // missing stats / unknown row count never refute
    assert(fileCanMatch(mf(), Seq(StatCmp("p", "=", 3))))
    assert(fileCanMatch(ManifestFile("f", None,
      Map("p" -> FileColStats(None, None, 10))), Seq(StatCmp("p", "=", 3))))
    // range boundaries for the ordered ops
    val r5to9 = mf("p" -> FileColStats(Some(5), Some(9), 2))
    assert(!fileCanMatch(r5to9, Seq(StatCmp("p", "<", 5))))
    assert(fileCanMatch(r5to9, Seq(StatCmp("p", "<", 6))))
    assert(!fileCanMatch(r5to9, Seq(StatCmp("p", ">", 9))))
    assert(fileCanMatch(r5to9, Seq(StatCmp("p", ">=", 9))))
    assert(!fileCanMatch(r5to9, Seq(StatCmp("p", ">=", 10))))
    assert(!fileCanMatch(r5to9, Seq(StatCmp("p", "<=", 4))))
  }

  test("string stat bounds: truncation stays sound; refutation follows byte order") {
    import graft.operators.VectorIndex._
    def b(s: String) = s.getBytes("UTF-8")
    // lo prefix-truncation: a prefix sorts <= every extension
    assert(compareBytes(truncLo(b("a" * 40)), b("a" * 40)) < 0)
    // hi truncation increments the last kept byte -> still >= original
    val hi = truncHi(b("abc" + "z" * 40)).get
    assert(compareBytes(hi, b("abc" + "z" * 40)) > 0)
    assert(hi.length <= StrStatPrefix)
    // all-0xFF prefix has no finite sound upper bound
    assert(truncHi(Array.fill(40)(0xff.toByte)).isEmpty)
    // short values keep exact bounds
    assert(truncLo(b("x")).toSeq == b("x").toSeq)
    assert(truncHi(b("x")).get.toSeq == b("x").toSeq)
    // extraction: string literals become StatStrCmp
    val preds = extractStatPreds($"metadata.source" === "web" &&
      $"metadata.lang" < "fr")
    assert(preds == Seq(StatStrCmp("source", "=", "web"),
      StatStrCmp("lang", "<", "fr")))
    // refutation semantics on a file bounded ["crawl_a", "crawl_z"]
    def mf(lo: String, hi: String) = ManifestFile("f", Some(10L),
      strStats = Map("source" -> FileStrStats(Some(b(lo)), Some(b(hi)), 0)))
    val file = mf("crawl_a", "crawl_z")
    assert(!fileCanMatch(file, Seq(StatStrCmp("source", "=", "web"))))
    assert(fileCanMatch(file, Seq(StatStrCmp("source", "=", "crawl_m"))))
    assert(!fileCanMatch(file, Seq(StatStrCmp("source", "<", "crawl_a"))))
    assert(fileCanMatch(file, Seq(StatStrCmp("source", "<=", "crawl_a"))))
    assert(!fileCanMatch(file, Seq(StatStrCmp("source", ">", "crawl_z"))))
    assert(fileCanMatch(file, Seq(StatStrCmp("source", ">=", "crawl_z"))))
    // hi=None (unbounded above) never refutes the upper side
    val unbounded = ManifestFile("f", Some(10L), strStats = Map(
      "source" -> FileStrStats(Some(b("crawl_a")), None, 0)))
    assert(fileCanMatch(unbounded, Seq(StatStrCmp("source", "=", "zzzz"))))
    assert(!fileCanMatch(unbounded, Seq(StatStrCmp("source", "=", "aaaa"))))
    // all-null string field refutes comparisons and IsNotNull
    val allNull = ManifestFile("f", Some(10L), strStats = Map(
      "source" -> FileStrStats(None, None, 10)))
    assert(!fileCanMatch(allNull, Seq(StatStrCmp("source", "=", "web"))))
    assert(!fileCanMatch(allNull, Seq(StatNotNull("source"))))
  }

  test("filtered ANN: stats prune never-matching files, pushed filter fills k with 0 escalations") {
    val dir = Files.createTempDirectory("graft_idx_stats").toString
    val root = s"$dir/s"
    val idx = VectorIndex.ensure(spark, root, 8, numBuckets = 16)
    def recs(from: Int, until: Int, priority: Option[Int]) =
      spark.range(from, until).select(
        concat(lit("p-"), col("id")).as("id"),
        array((0 until 8).map(j =>
          sin(col("id") * (j + 1)).cast("float")): _*).as("values"),
        struct(lit(0).as("chunk_index"), lit("t").as("source"),
          priority.map(v => lit(v)).getOrElse(lit(null)).cast("int")
            .as("priority")).as("metadata"))
    // base corpus: priority NULL everywhere (the sparse-tag pattern)
    idx.upsert(recs(0, 400, None))
    // small tagged batch rewrites only its ids' buckets — every
    // untouched bucket's files stay all-null in priority
    idx.upsert(recs(400, 408, Some(1)))
    val q = (0 until 8).map(j => math.sin(403.0 * (j + 1)).toFloat).toArray
    val f = Some($"metadata.priority" === 1)
    val res = idx.queryApprox(q, 5, shortlist = 16, filter = f).collect()
    assert(res.length == 5, s"selective filter must fill k, got ${res.length}")
    assert(idx.lastEscalations == 0,
      s"stats + pushed filter must fill k with 0 escalations, got ${idx.lastEscalations}")
    assert(idx.lastFilterPushed, "metadata-only filter must push into the signature phase")
    assert(idx.lastStatsPrunedFiles > 0,
      "all-null files of untouched buckets must be stats-refuted")
    assert(idx.lastProbeFiles < idx.lastManifestFiles,
      s"probe must read a strict subset (${idx.lastProbeFiles}/${idx.lastManifestFiles})")
    // pruning is sound: results equal the exact filtered top-k
    res.foreach(r => assert(
      r.getAs[org.apache.spark.sql.Row]("metadata").getAs[Int]("priority") == 1))
    val exact = idx.query(q, 5, f).collect()
    assert(res.map(_.getString(0)).toSeq == exact.map(_.getString(0)).toSeq)
    // an unsupported filter shape still works (no pruning, full filter
    // at rescore): same rows, nothing stats-pruned
    val f2 = Some(abs($"metadata.priority") === 1) // abs() not extractable
    val res2 = idx.queryApprox(q, 5, shortlist = 16, filter = f2).collect()
    assert(res2.map(_.getString(0)).toSeq == exact.map(_.getString(0)).toSeq)
    assert(idx.lastStatsPrunedFiles == 0)
    // STRING stats: every file's source bounds are lo=hi="t" — a
    // wrong-source equality refutes every file outright, while the
    // right source ANDed with the tag prunes nothing wrongly
    assert(idx.queryApprox(q, 5, shortlist = 16,
      filter = Some($"metadata.source" === "u")).count() == 0)
    assert(idx.lastApproxMode == "exact-stats-refuted")
    val both = idx.queryApprox(q, 5, shortlist = 16,
      filter = Some($"metadata.source" === "t" &&
        $"metadata.priority" === 1)).collect()
    assert(both.map(_.getString(0)).toSeq == exact.map(_.getString(0)).toSeq)
  }

  test("racing upserts: manifest CAS — one wins, the loser retries cleanly, no orphans") {
    val dir = Files.createTempDirectory("graft_idx_race").toString
    val root = s"$dir/r"
    val idx = VectorIndex.ensure(spark, root, 4, numBuckets = 4)
    def recs(s: org.apache.spark.sql.SparkSession, from: Int, until: Int) =
      s.range(from, until).select(
        concat(lit("c-"), col("id")).as("id"),
        array(col("id").cast("float"), lit(1f), lit(2f), lit(3f)).as("values"),
        struct(lit(0).as("chunk_index"), lit("t").as("source")).as("metadata"))
    idx.upsert(recs(spark, 0, 20)) // snapshot 0
    // the slow writer runs on its OWN session: the commit-delay seam
    // holds ITS commit open in the race window (after it computed
    // target version 1, before its manifest rename) while the fast
    // writer — whose session has no delay — commits version 1 first
    val slowSess = spark.newSession()
    slowSess.conf.set("spark.graft.index.testCommitDelayMs", "6000")
    val slowIdx = VectorIndex.open(slowSess, root)
    @volatile var slowErr: Throwable = null
    val t = new Thread(() =>
      try slowIdx.upsert(recs(slowSess, 100, 110))
      catch { case e: Throwable => slowErr = e })
    t.start()
    Thread.sleep(1500) // slow writer has read cur=0 and is pre-commit
    idx.upsert(recs(spark, 200, 210)) // wins version 1
    t.join(120000)
    assert(!t.isAlive, "slow writer did not finish")
    assert(slowErr == null, s"loser must retry cleanly, got $slowErr")
    // loser recomputed against the winner's state: ALL rows present
    assert(idx.scan().count() == 40)
    assert(idx.fetch(Seq("c-205")).count() == 1)
    assert(idx.fetch(Seq("c-105")).count() == 1)
    // exactly one commit per version; the retry landed as snapshot 2
    // (snapshot 0 aged out under the keep=2 retention)
    assert(idx.snapshots() == Seq(1L, 2L))
    // version 1 is the FAST writer's commit (it has the 200s, not the
    // 100s) — the loser never overwrote the winner
    import spark.implicits._
    val v1Ids = idx.scanAt(1L).select("id").as[String].collect().toSet
    assert(v1Ids.contains("c-205") && !v1Ids.contains("c-105"))
    // no commit litter: the loser's tmp manifest was deleted
    val snapFiles = new java.io.File(root).listFiles()
      .filter(_.getName.startsWith("snapshot=")).flatMap(_.listFiles()).map(_.getName)
    assert(!snapFiles.exists(_.startsWith(".manifest.tmp")), snapFiles.mkString(","))
    // no orphan data: the loser's first-attempt dir (data/v=1-<attempt>,
    // unreferenced by any committed manifest) was swept by the GC when
    // snapshot 0 aged out during the retry's own commit
    val referenced = Seq(1L, 2L).flatMap(v => idx.manifestAt(v).values.flatten)
      .map(_.split("/")(1)).toSet // the "v=N-attempt" path component
    val onDisk = new java.io.File(s"$root/data").listFiles().map(_.getName).toSet
    assert(onDisk.subsetOf(referenced),
      s"orphan attempt dirs leaked: ${onDisk -- referenced}")
  }

  test("queryMany: sharded scatter-gather equals the single-index answer, sharding-invariant") {
    val dir = Files.createTempDirectory("graft_idx_sg").toString
    def recs(s: org.apache.spark.sql.SparkSession, pred: Long => Boolean) =
      s.range(0, 60).filter(org.apache.spark.sql.functions.udf(pred).apply($"id"))
        .select(concat(lit("v-"), $"id").as("id"),
          array($"id".cast("float"), ($"id" % 7).cast("float"),
            lit(1f), lit(2f)).as("values"),
          struct(lit(0).as("chunk_index"), lit("t").as("source")).as("metadata"))
    val all = VectorIndex.ensure(spark, s"$dir/all", 4)
    all.upsert(recs(spark, _ => true))
    val s2 = VectorIndex.ensure(spark, s"$dir/s2", 4)
    s2.upsert(recs(spark, _ % 2 == 0))
    val s3 = VectorIndex.ensure(spark, s"$dir/s3", 4)
    s3.upsert(recs(spark, _ % 2 == 1))
    val q = Array(31f, 3f, 1f, 2f)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").as[String].collect().toSeq
    val single = ids(all.query(q, 7))
    assert(ids(VectorIndex.queryMany(Seq(s2, s3), q, 7)) == single,
      "2-shard merge must equal the single index")
    // a different sharding (3 shards by modulo) yields the same answer
    val t0 = VectorIndex.ensure(spark, s"$dir/t0", 4)
    t0.upsert(recs(spark, _ % 3 == 0))
    val t1 = VectorIndex.ensure(spark, s"$dir/t1", 4)
    t1.upsert(recs(spark, _ % 3 == 1))
    val t2 = VectorIndex.ensure(spark, s"$dir/t2", 4)
    t2.upsert(recs(spark, _ % 3 == 2))
    assert(ids(VectorIndex.queryMany(Seq(t0, t1, t2), q, 7)) == single,
      "sharding layout must not change the merged answer")
    intercept[IllegalArgumentException] {
      VectorIndex.queryMany(Seq.empty, q, 5)
    }
    // APPROX scatter-gather (r18): with shortlist >= every shard's size
    // each per-shard queryApprox is exact, so the merged head must
    // recover the exact scatter-gather (= single-index) answer
    // bit-for-bit — the full-shortlist contract of queryManyApprox
    assert(ids(VectorIndex.queryManyApprox(Seq(s2, s3), q, 7,
        shortlist = 60)) == single,
      "full-shortlist approx scatter-gather must equal the exact answer")
    assert(ids(VectorIndex.queryManyApprox(Seq(t0, t1, t2), q, 7,
        shortlist = 60)) == single,
      "full-shortlist approx merge must be sharding-invariant")
    intercept[IllegalArgumentException] {
      VectorIndex.queryManyApprox(Seq.empty, q, 5)
    }
  }

  test("mergeIndexes: shard consolidation equals the single index; refusals loud; merged index stays fully writable") {
    val dir = Files.createTempDirectory("graft_idx_merge").toString
    def recs(pred: Long => Boolean) =
      spark.range(0, 60).filter(org.apache.spark.sql.functions.udf(pred).apply($"id"))
        .select(concat(lit("v-"), $"id").as("id"),
          array($"id".cast("float"), ($"id" % 7).cast("float"),
            lit(1f), lit(2f)).as("values"),
          struct($"id".cast("int").as("chunk_index"), lit("t").as("source"))
            .as("metadata"))
    val all = VectorIndex.ensure(spark, s"$dir/all", 4)
    all.upsert(recs(_ => true))
    val s2 = VectorIndex.ensure(spark, s"$dir/s2", 4)
    s2.upsert(recs(_ % 2 == 0))
    val s3 = VectorIndex.ensure(spark, s"$dir/s3", 4)
    s3.upsert(recs(_ % 2 == 1))
    val merged = VectorIndex.mergeIndexes(spark, Seq(s"$dir/s2", s"$dir/s3"),
      s"$dir/m")
    val q = Array(31f, 3f, 1f, 2f)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").as[String].collect().toSeq
    // merged top-k == the single whole-corpus index, exact AND approx
    // (full shortlist), and the scan sees every row exactly once
    assert(ids(merged.query(q, 7)) == ids(all.query(q, 7)))
    assert(ids(merged.queryApprox(q, 7, shortlist = 60)) == ids(all.query(q, 7)))
    assert(merged.scan().count() == 60)
    // the transport carried every file's recorded row count and stats
    // verbatim — no footer re-read, so every merged manifest entry
    // still knows its rows (cell/stats pruning serves unchanged)
    val entries = merged.manifestEntriesAt(1L).values.flatten.toSeq
    assert(entries.nonEmpty && entries.forall(_.rows.nonEmpty),
      "merged manifest must carry the sources' recorded row counts")
    assert(entries.forall(_.stats.contains("chunk_index")),
      "merged manifest must carry the sources' metadata stats")
    // a metadata-filtered query stats-prunes on the carried stats
    assert(ids(merged.query(q, 3,
      Some($"metadata.chunk_index" === 31))) == Seq("v-31"))
    // the merged index is a real index, not a read-only view: upsert,
    // fetch, delete keep working and start its own snapshot line
    merged.upsert(recs(_ == 0).withColumn("id", lit("fresh-1")))
    assert(merged.fetch(Seq("fresh-1")).count() == 1)
    assert(merged.snapshots().headOption.contains(1L))
    // refusal: overlapping id sets (all shares every id with s2)
    val e = intercept[VectorIndex.OverlappingSources] {
      VectorIndex.mergeIndexes(spark, Seq(s"$dir/all", s"$dir/s2"), s"$dir/m2")
    }
    assert(e.getMessage.contains("v-"), s"must name colliders: ${e.getMessage}")
    // refusal: layout mismatch (different bucket count)
    val other = VectorIndex.ensure(spark, s"$dir/ob", 4, numBuckets = 8)
    other.upsert(recs(_ == 1).withColumn("id", lit("ob-1")))
    intercept[IllegalArgumentException] {
      VectorIndex.mergeIndexes(spark, Seq(s"$dir/s2", s"$dir/ob"), s"$dir/m3")
    }
    // refusal: non-empty target (a merge is a create, not an append)
    intercept[IllegalArgumentException] {
      VectorIndex.mergeIndexes(spark, Seq(s"$dir/s2", s"$dir/s3"), s"$dir/all")
    }
  }

  test("knnJoin: batch top-k served from the index — full shortlist exact per query, fallbacks engage, dim refusal") {
    val dir = Files.createTempDirectory("graft_idx_knn").toString
    val recs = spark.range(0, 60)
      .select(concat(lit("v-"), $"id").as("id"),
        array($"id".cast("float"), ($"id" % 7).cast("float"),
          lit(1f), lit(2f)).as("values"),
        struct(lit(0).as("chunk_index"), lit("t").as("source")).as("metadata"))
    val idx = VectorIndex.ensure(spark, s"$dir/idx", 4)
    idx.upsert(recs)
    val queries = Seq(
      ("q-a", Seq(31f, 3f, 1f, 2f)),
      ("q-b", Seq(2f, 6f, 1f, 2f)),
      ("q-c", Seq(55f, 0f, 1f, 2f))).toDF("qid", "qv")
      .select($"qid", $"qv".cast("array<float>").as("qv"))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").as[String].collect().toSeq
    // full shortlist: each query's row set == the single-query exact
    // answer, in rank order (score AND tiebreak identical)
    val joined = idx.knnJoin(queries, "qid", "qv", k = 5, shortlist = 60)
      .orderBy($"query_id", $"rank").collect()
      .groupBy(_.getString(0)).map { case (q, rows) =>
        q -> rows.sortBy(_.getInt(1)).map(_.getString(2)).toSeq
      }
    assert(idx.lastKnnMode == "approx")
    for ((qid, qv) <- Seq(("q-a", Array(31f, 3f, 1f, 2f)),
        ("q-b", Array(2f, 6f, 1f, 2f)), ("q-c", Array(55f, 0f, 1f, 2f))))
      assert(joined(qid) == ids(idx.query(qv, 5)),
        s"$qid: batch must equal the single-query exact answer")
    // pruned shortlist still finds each query's planted self-match
    val idTo = spark.range(0, 60)
      .select(concat(lit("v-"), $"id").as("qid"),
        array($"id".cast("float"), ($"id" % 7).cast("float"),
          lit(1f), lit(2f)).as("qv"))
    val self = idx.knnJoin(idTo, "qid", "qv", k = 1, shortlist = 8)
    assert(self.count() == 60, "every query must fill k")
    // NOT all 60: these toy 4-dim vectors collapse to few distinct
    // 64-bit signatures, so the id tiebreak inside an all-zero-Hamming
    // cohort can cut a self row from an 8-deep shortlist — the honest
    // approximation contract. The bar is recall, not perfection
    // (measured 50/60 on this fixture).
    assert(self.filter($"query_id" === $"id").count() >= 45,
      "pruned batch probes must keep self-match recall high")
    // dim refusal (the E2 discipline): one bad row fails the batch
    intercept[graft.core.IngestError] {
      idx.knnJoin(Seq(("bad", Seq(1f, 2f))).toDF("qid", "qv"),
        "qid", "qv", k = 1).collect()
    }
    // FILTERED batch search: the filter is the correctness authority —
    // each query's rows all satisfy it, and escalation fills k even
    // though the first shortlist is mostly filtered away
    val filtered = idx.knnJoin(queries, "qid", "qv", k = 3, shortlist = 4,
      filter = Some($"metadata.chunk_index" === 0 && $"id".endsWith("0")))
    val byQ = filtered.collect().groupBy(_.getString(0))
    assert(byQ.keySet == Set("q-a", "q-b", "q-c"))
    assert(byQ.values.forall(rows => rows.length == 3 &&
      rows.forall(_.getString(2).endsWith("0"))),
      "every filtered result must satisfy the filter and fill k")
    // EXHAUSTION EXIT (r20): a filter whose true answer has < k rows,
    // probed with a shortlist already covering the whole index (60
    // rows) — the first attempt ranked every row, so escalation can
    // never grow the result and must not fire at all
    val scarce = idx.knnJoin(queries, "qid", "qv", k = 3, shortlist = 60,
      filter = Some($"id" === "v-7"))
    assert(scarce.count() == 3 &&
      scarce.select("id").as[String].collect().forall(_ == "v-7"),
      "each query's true filtered answer is the single matching row")
    assert(idx.lastKnnEscalations == 0,
      "an exhaustive first attempt must suppress every escalation")
    // a predicate every file's stats refute: provably-empty, no probe
    assert(idx.knnJoin(queries, "qid", "qv", k = 2,
      filter = Some($"metadata.chunk_index" === 99)).count() == 0)
    assert(idx.lastKnnMode == "exact-stats-refuted")
    // an id predicate stats CANNOT refute but the pushed sig-phase
    // filter empties: the provably-empty answer, not a zero-path scan
    assert(idx.knnJoin(queries, "qid", "qv", k = 2,
      filter = Some($"id" === "no-such-id")).count() == 0)
    // duplicate query ids refuse loudly (two vectors under one key
    // would interleave into one corrupted ranking)
    intercept[IllegalArgumentException] {
      idx.knnJoin(queries.unionByName(queries.limit(1)), "qid", "qv", k = 2)
    }
    // a NULL query vector fails the dim check up front, not as a task NPE
    intercept[graft.core.IngestError] {
      idx.knnJoin(
        Seq(("qn", null: Seq[Float])).toDF("qid", "qv")
          .select($"qid", $"qv".cast("array<float>").as("qv")),
        "qid", "qv", k = 1).collect()
    }
    // empty index: empty result, exact-empty mode
    val none = VectorIndex.ensure(spark, s"$dir/none", 4)
    assert(none.knnJoin(queries, "qid", "qv", k = 3).count() == 0)
    assert(none.lastKnnMode == "exact-empty")
  }

  test("queryManyMatryoshka: full-shortlist scatter-gather equals the single index; empty refusal") {
    val dir = Files.createTempDirectory("graft_idx_sgm").toString
    val emb = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    def recs(pred: org.apache.spark.sql.Column) = emb.filter(pred)
      .select($"vec_id".cast("string").as("id"), $"embedding".as("values"),
        struct(lit(0).as("chunk_index"), lit("t").as("source")).as("metadata"))
    val all = VectorIndex.ensure(spark, s"$dir/all", 64, prefixDim = 16)
    all.upsert(recs(lit(true)))
    val s0 = VectorIndex.ensure(spark, s"$dir/s0", 64, prefixDim = 16)
    s0.upsert(recs($"vec_id" % 2 === 0))
    val s1 = VectorIndex.ensure(spark, s"$dir/s1", 64, prefixDim = 16)
    s1.upsert(recs($"vec_id" % 2 === 1))
    val q = emb.filter($"vec_id" === 3).select($"embedding")
      .as[Array[Float]].head()
    val n = emb.count().toInt
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").as[String].collect().toSeq
    val single = ids(all.queryMatryoshka(q, 10, shortlist = n))
    assert(single == ids(all.query(q, 10)), "full shortlist must be exact")
    assert(ids(VectorIndex.queryManyMatryoshka(Seq(s0, s1), q, 10,
        shortlist = n)) == single,
      "full-shortlist scatter-gather matryoshka must equal the single index")
    intercept[IllegalArgumentException] {
      VectorIndex.queryManyMatryoshka(Seq.empty, q, 5)
    }
  }

  test("VectorIndex.validateShards: disjoint set certifies with the total id count; overlap and duplicates refuse; empty shard tolerated (r20)") {
    val dir = Files.createTempDirectory("graft_idx_vsv").toString
    def recs(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(concat(lit("v-"), $"id").as("id"),
        array($"id".cast("float"), lit(1f), lit(2f), lit(3f)).as("values"),
        struct(lit(0).as("chunk_index"), lit("t").as("source")).as("metadata"))
    val a = VectorIndex.ensure(spark, s"$dir/a", 4); a.upsert(recs(0, 30))
    val b = VectorIndex.ensure(spark, s"$dir/b", 4); b.upsert(recs(30, 50))
    assert(VectorIndex.validateShards(spark, Seq(s"$dir/a", s"$dir/b")) == 50L)
    // a snapshot-less shard censuses as zero ids
    VectorIndex.ensure(spark, s"$dir/e", 4)
    assert(VectorIndex.validateShards(spark,
      Seq(s"$dir/a", s"$dir/b", s"$dir/e")) == 50L)
    // overlap refusal: one id upserted into both shards
    b.upsert(recs(0, 1))
    val ex = intercept[VectorIndex.OverlappingSources] {
      VectorIndex.validateShards(spark, Seq(s"$dir/a", s"$dir/b"))
    }
    assert(ex.getMessage.contains("shares ids"))
    // duplicate path refusal
    intercept[IllegalArgumentException] {
      VectorIndex.validateShards(spark, Seq(s"$dir/a", s"$dir/a"))
    }
  }

  test("knnJoinSharded / nearDupAgainstSharded: full-shortlist scatter equals the union index, verdicts included (r20)") {
    val dir = Files.createTempDirectory("graft_idx_sgk").toString
    val emb = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    def recs(pred: org.apache.spark.sql.Column) = emb.filter(pred)
      .select($"vec_id".cast("string").as("id"), $"embedding".as("values"),
        struct(lit(0).as("chunk_index"), lit("t").as("source")).as("metadata"))
    val all = VectorIndex.ensure(spark, s"$dir/all", 64)
    all.upsert(recs(lit(true)))
    val s0 = VectorIndex.ensure(spark, s"$dir/s0", 64)
    s0.upsert(recs($"vec_id" % 2 === 0))
    val s1 = VectorIndex.ensure(spark, s"$dir/s1", 64)
    s1.upsert(recs($"vec_id" % 2 === 1))
    val n = emb.count().toInt
    val queries = emb.filter($"vec_id".isin(3, 5, 9))
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy($"query_id", $"rank").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getDouble(3)))
      .toSeq
    // full shortlist: sharded batch join == the union index's, ranks,
    // ids AND raw score doubles (per-shard scoring is the same
    // expression over the same vectors)
    val single = rows(all.knnJoin(queries, "qid", "qv", k = 7, shortlist = n))
    val scatter = rows(VectorIndex.knnJoinSharded(Seq(s0, s1), queries,
      "qid", "qv", k = 7, shortlist = n))
    assert(scatter == single,
      "sharded batch join must equal the union index bit-for-bit")
    // a metadata/id filter threads through to every shard's join
    val filtered = VectorIndex.knnJoinSharded(Seq(s0, s1), queries,
      "qid", "qv", k = 3, shortlist = n,
      filter = Some($"id".cast("long") % 3 === 0))
    assert(filtered.count() == 9 &&
      filtered.select("id").as[String].collect()
        .forall(_.toLong % 3 == 0),
      "every sharded filtered result must satisfy the filter and fill k")
    // dedup-on-ingest verdicts: nearest-of-nearests over the shard set
    // equals the union index's global nearest (ids, dup_of, scores)
    val batch = emb.filter($"vec_id".isin(2, 4, 6, 8))
      .select($"vec_id".as("bid"), $"embedding".as("bv"))
    def verdicts(df: org.apache.spark.sql.DataFrame) = df.orderBy($"id")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        r.getBoolean(3))).toSeq
    assert(verdicts(VectorIndex.nearDupAgainstSharded(Seq(s0, s1), batch,
        "bid", "bv", threshold = 0.2, shortlist = n))
      == verdicts(all.nearDupAgainst(batch, "bid", "bv", threshold = 0.2,
        shortlist = n)),
      "sharded dedup verdicts must equal the union index's")
    // empty shard list refuses loudly
    intercept[IllegalArgumentException] {
      VectorIndex.knnJoinSharded(Seq.empty, queries, "qid", "qv", k = 3)
    }
    // an EMPTY shard in the set contributes nothing and breaks nothing
    val e = VectorIndex.ensure(spark, s"$dir/e", 64)
    assert(rows(VectorIndex.knnJoinSharded(Seq(s0, s1, e), queries,
      "qid", "qv", k = 7, shortlist = n)) == single,
      "an empty shard must not change the merged answer")
  }

  test("nearDupAgainst: batch-vs-index semantic dedup — exact copy flags, far row passes, re-ingest self-flags, empty index all-pass") {
    val dir = Files.createTempDirectory("graft_idx_ndup").toString
    val recs = spark.range(0, 40)
      .select(concat(lit("v-"), $"id").as("id"),
        array(($"id" + 1).cast("float"), lit(1f), lit(0f), lit(0f)).as("values"),
        struct(lit(0).as("chunk_index"), lit("t").as("source")).as("metadata"))
    val idx = VectorIndex.ensure(spark, s"$dir/idx", 4)
    idx.upsert(recs)
    val batch = Seq(
      ("b-copy", Seq(8f, 1f, 0f, 0f)),   // exact copy of v-7's vector
      ("b-far", Seq(0f, 0f, 1f, 0f)),    // orthogonal to every indexed row
      ("v-3", Seq(4f, 1f, 0f, 0f))       // re-ingest of an indexed id
    ).toDF("bid", "bv").select($"bid", $"bv".cast("array<float>").as("bv"))
    val v = idx.nearDupAgainst(batch, "bid", "bv", threshold = 0.9,
        shortlist = 40)
      .collect().map(r => r.getString(0) ->
        (Option(r.get(1)), r.getBoolean(3))).toMap
    assert(v("b-copy") == (Some("v-7"), true),
      s"exact copy must flag against its source: ${v("b-copy")}")
    assert(!v("b-far")._2, "an orthogonal vector must pass")
    assert(v("v-3") == (Some("v-3"), true),
      "a re-ingested id must flag as its own duplicate")
    // threshold is the caller's knob: at a bar the far row's best
    // cosine clears, it flags too
    val loose = idx.nearDupAgainst(batch, "bid", "bv", threshold = -1.0,
      shortlist = 40)
    assert(loose.filter($"is_dup").count() == 3)
    // empty index: every row passes with a null neighbor
    val none = VectorIndex.ensure(spark, s"$dir/none", 4)
    val e = none.nearDupAgainst(batch, "bid", "bv", threshold = 0.9)
    assert(e.count() == 3 && e.filter($"is_dup").count() == 0 &&
      e.filter($"dup_of".isNull).count() == 3)
  }

  test("queryManyApprox tightening: the global Hamming bound prunes later shards' probe files, answers unchanged") {
    val dir = Files.createTempDirectory("graft_idx_sgt").toString
    val rnd = new scala.util.Random(5)
    val base = Array.fill(16)(rnd.nextFloat() * 2f - 1f)
    // shard 1: a GRADED cluster around `base` (the query) — noise
    // grows with i, so cosine rank, Hamming distance and pool order
    // all follow i: the pool of 32 provably contains the exact top-10
    // AND its 32nd-best Hamming distance is small (~3-4)
    val cluster = (0 until 50).map { i =>
      val scale = 0.002f * (i + 1) * (i + 1) / 10f + 0.002f
      (s"c-$i",
        base.map(v => v + (rnd.nextFloat() - 0.5f) * scale * 2).toSeq)
    }
    // shards 2/3: ANTIPODAL points only (signatures ~complement of the
    // query's, cell rings 4-6) — without the bound their probes read
    // every cell ring; under a bound of ~4, most rings are pruned
    def far(tag: String) = (0 until 200).map { i =>
      (s"$tag-$i",
        base.map(v => -v + (rnd.nextFloat() - 0.5f) * 0.4f).toSeq)
    }
    def mkIdx(name: String, rows: Seq[(String, Seq[Float])]) = {
      val idx = VectorIndex.ensure(spark, s"$dir/$name", 16,
        numBuckets = 4, cellMinRows = 1)
      idx.upsert(rows.toDF("id", "values")
        .select($"id", $"values".cast("array<float>").as("values"),
          struct(lit(0).as("chunk_index"), lit("t").as("source"))
            .as("metadata")))
      idx
    }
    val s1 = mkIdx("s1", cluster)
    val s2 = mkIdx("s2", far("x"))
    val s3 = mkIdx("s3", far("y"))
    val shards = Seq(s1, s2, s3)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").as[String].collect().toSeq
    val exact = ids(VectorIndex.queryMany(shards, base, 10))
    // tightened gather: answer matches the exact global top-10 (the
    // planted cluster dominates), the bound engaged for shards 2/3,
    // and TOTAL probed files are strictly fewer than the N
    // independent per-shard probes
    val tightened = ids(VectorIndex.queryManyApprox(shards, base, 10,
      shortlist = 32))
    assert(tightened == exact, s"answers must match: $tightened vs $exact")
    assert(VectorIndex.lastManyBoundedProbes >= 2,
      s"bound must engage after the pool fills: ${VectorIndex.lastManyBoundedProbes}")
    val tightFiles = VectorIndex.lastManyProbeFiles
    val independentFiles = shards.map { idx =>
      idx.queryApprox(base, 10, shortlist = 32)
      idx.lastProbeFiles
    }.sum
    assert(tightFiles < independentFiles,
      s"tightened gather must probe strictly fewer files: " +
        s"$tightFiles vs $independentFiles independent")
    // full-shortlist regime: the pool is exhaustive, no bound ever
    // engages, and the answer provably recovers the exact top-k
    val full = ids(VectorIndex.queryManyApprox(shards, base, 10,
      shortlist = 1000))
    assert(full == exact)
    assert(VectorIndex.lastManyBoundedProbes == 0,
      "a shortlist >= the union must never bound a probe")
    // filtered gather still fills k and respects the filter
    val filtered = VectorIndex.queryManyApprox(shards, base, 5,
      shortlist = 32, filter = Some($"metadata.chunk_index" === 0))
    assert(filtered.count() == 5)

    // ---- r20 TWO-PHASE PARALLEL vs the r19 sequential reference ----
    // answers bit-unchanged on this fixture, every candidate shard's
    // full probe runs UNDER the global bound (== shards), and distinct
    // probed files do not exceed the sequential form's
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val par = rows(VectorIndex.queryManyApprox(shards, base, 10,
      shortlist = 32))
    val parBounded = VectorIndex.lastManyBoundedProbes
    val parFiles = VectorIndex.lastManyProbeFiles
    val seq = rows(VectorIndex.queryManyApprox(shards, base, 10,
      shortlist = 32, sequential = true))
    val seqFiles = VectorIndex.lastManyProbeFiles
    assert(par == seq,
      s"parallel gather must serve the sequential answer bit-unchanged")
    assert(parBounded == shards.size,
      s"every candidate shard's full probe must run under the global " +
        s"bound: $parBounded of ${shards.size}")
    assert(parFiles <= seqFiles,
      s"two-phase probing must not read more files than the " +
        s"sequential form: $parFiles vs $seqFiles")
  }

  test("four mixed racers (2 upserts, delete, rebucket): versions linearize, every effect lands or surfaces typed, no orphans") {
    val dir = Files.createTempDirectory("graft_idx_race4").toString
    val root = s"$dir/r4"
    val idx = VectorIndex.ensure(spark, root, 4, numBuckets = 4)
    def recs(s: org.apache.spark.sql.SparkSession, prefix: String,
        from: Int, until: Int, bump: Int = 0) =
      s.range(from, until).select(
        concat(lit(s"$prefix-"), col("id")).as("id"),
        array((col("id") + bump).cast("float"), lit(1f), lit(2f), lit(3f))
          .as("values"),
        struct(lit(0).as("chunk_index"), lit("t").as("source")).as("metadata"))
    idx.upsert(recs(spark, "b", 0, 40)) // snapshot 0
    // three delayed writers on their own sessions (the commit-delay
    // seam holds each rename open per ATTEMPT), plus the undelayed
    // main-session upsert that commits first — every combination of
    // upsert-vs-upsert, upsert-vs-delete and writer-vs-rebucket CAS
    // collisions occurs across the staggered retry windows
    def delayedIdx(ms: Long): VectorIndex = {
      val sess = spark.newSession()
      sess.conf.set("spark.graft.index.testCommitDelayMs", ms.toString)
      VectorIndex.open(sess, root)
    }
    val overwriter = delayedIdx(1500) // rewrites b-0..b-4 with bumped values
    val deleter = delayedIdx(3000)    // removes b-30..b-34
    val rebucketer = delayedIdx(4500) // 4 -> 8 buckets, O(index) rewrite
    val outcomes = new java.util.concurrent.ConcurrentHashMap[String, Throwable]()
    def racer(name: String)(body: => Unit): Thread = {
      val t = new Thread(() =>
        try body catch { case e: Throwable => outcomes.put(name, e) })
      t.start(); t
    }
    val ts = Seq(
      racer("overwrite") {
        overwriter.upsert(recs(overwriter.spark, "b", 0, 5, bump = 1000))
      },
      racer("delete") { deleter.delete((30 until 35).map(i => s"b-$i")) },
      racer("rebucket") { rebucketer.rebucket(8) })
    Thread.sleep(700) // racers have read cur=0 and hold pre-rename
    idx.upsert(recs(spark, "m", 0, 10)) // undelayed: wins the first race
    ts.foreach(_.join(180000))
    assert(ts.forall(!_.isAlive), "racers did not finish")
    // every failure must be the TYPED conflict — nothing else leaks
    import scala.jdk.CollectionConverters._
    outcomes.asScala.foreach { case (n, e) =>
      assert(e.isInstanceOf[VectorIndex.SnapshotConflict],
        s"racer $n died untyped: $e")
    }
    def ok(n: String) = !outcomes.containsKey(n)
    // versions linearize: one commit per success, contiguous, CAS'd
    val successes = 1 + Seq("overwrite", "delete", "rebucket").count(ok)
    assert(idx.snapshots().last == successes.toLong,
      s"head must be v$successes, got ${idx.snapshots()}")
    assert(idx.snapshots() == idx.snapshots().sorted.distinct)
    // effect atomicity: present iff the racer succeeded — a loser's
    // retry folded into the winner's state, never over it
    import spark.implicits._
    val fin = idx.scan().select($"id", $"values").as[(String, Seq[Float])]
      .collect().toMap
    assert(fin.contains("m-5"), "main upsert lost")
    val expectCount = 40 + 10 - (if (ok("delete")) 5 else 0)
    assert(fin.size == expectCount, s"expected $expectCount ids, got ${fin.size}")
    if (ok("delete")) assert(!fin.contains("b-32"), "deleted id resurfaced")
    if (ok("overwrite"))
      assert(fin("b-2").head == 1002f, s"overwrite lost: ${fin("b-2")}")
    else assert(fin("b-2").head == 2f, "failed overwrite must leave base rows")
    if (ok("rebucket")) {
      val reopened = VectorIndex.open(spark, root)
      assert(reopened.meta.numBuckets == 8, "rebucket committed but meta stale")
      // the new layout serves: point fetch + knn across the hash space
      assert(reopened.fetch(Seq("m-7", "b-20")).count() == 2)
      assert(reopened.query(Array(20f, 1f, 2f, 3f), 3).count() == 3)
    }
    // retention GC leaves no orphan attempt dirs: everything on disk is
    // referenced by a retained manifest
    val referenced = idx.snapshots()
      .flatMap(v => idx.manifestAt(v).values.flatten)
      .map(_.split("/")(1)).toSet
    val onDisk = new java.io.File(s"$root/data").listFiles().map(_.getName).toSet
    assert(onDisk.subsetOf(referenced),
      s"orphan attempt dirs leaked: ${onDisk -- referenced}")
  }

  test("a hung footer read cannot hang the snapshot commit (rows=None fallback)") {
    // filesystem that wedges ONLY the dedicated footer-read pool's
    // open() calls (thread-name targeted), uninterruptibly — the
    // blocked-in-native-I/O shape shutdownNow() cannot unstick. Data
    // writes, executor scans and manifest I/O pass through untouched.
    val dir = Files.createTempDirectory("graft_idx_hungfooter").toString
    spark.sparkContext.hadoopConfiguration.set(
      s"fs.${FooterBlockingFs.Scheme}.impl", classOf[FooterBlockingFs].getName)
    spark.conf.set("spark.graft.index.footerTimeoutMs", "1500")
    try {
      val idx = VectorIndex.ensure(spark, s"${FooterBlockingFs.Scheme}:$dir/h",
        4, numBuckets = 4, cellMinRows = 1)
      val recs = (0 until 50).toDF("n").select(
        concat(lit("h-"), $"n").as("id"),
        array($"n".cast("float"), lit(1f), lit(2f), lit(3f)).as("values"),
        struct(lit(0).as("chunk_index"), lit("t").as("source")).as("metadata"))
      val t0 = System.nanoTime()
      idx.upsert(recs)
      val elapsedS = (System.nanoTime() - t0) / 1e9
      assert(elapsedS < 30.0,
        s"commit must not wait out the hung reads (took ${elapsedS}s)")
      assert(FooterBlockingFs.blockedOpens.get() > 0,
        "harness must actually have wedged at least one footer read")
      // every file committed with rows=None: counts missing, file valid
      val entries = idx.manifestEntriesAt(idx.snapshots().last).values.flatten
      assert(entries.nonEmpty && entries.forall(_.rows.isEmpty),
        s"timed-out footers must commit as rows=None: ${entries.toSeq}")
      // the index stays fully readable and servable — unknown counts
      // only cost pruning (selectProbeFiles always probes such files)
      assert(idx.scan().count() == 50)
      val q = Array(7f, 1f, 2f, 3f)
      assert(idx.query(q, 3).count() == 3)
      assert(idx.queryApprox(q, 3, shortlist = 10).count() == 3)
    } finally {
      spark.conf.unset("spark.graft.index.footerTimeoutMs")
      spark.sparkContext.hadoopConfiguration.unset(s"fs.${FooterBlockingFs.Scheme}.impl")
    }
  }

  test("end-to-end: ingest, query top-k, upsert-twice, delete") {
    val dir = Files.createTempDirectory("graft_idx").toString
    val idx = VectorIndex.ensure(spark, s"$dir/e2e", 64)
    val records = Ingest.pipeline(docs, embedder, Ingest.Config(expectedDim = Some(64)))
    idx.upsert(records)
    val (meta, n) = idx.describe()
    assert(meta.dimension == 64 && n == 500)

    // top-k: query with doc 3's own vector; doc 3's chunk must be #1 at score ~1
    val q3 = records.filter($"id" === "doc-3-0").select("values")
      .as[Array[Float]].head()
    val top = idx.query(q3, 5).collect()
    assert(top.length == 5)
    assert(top.head.getAs[String]("id") == "doc-3-0")
    assert(math.abs(top.head.getAs[Double]("score") - 1.0) < 1e-6)
    val scores = top.map(_.getAs[Double]("score")).toSeq
    assert(scores == scores.sorted.reverse) // monotone non-increasing

    // metadata-filtered query (Q3): restrict to chunk_index = 0 still works
    val filtered = idx.query(q3, 3, Some(col("metadata.chunk_index") === 0))
    assert(filtered.count() == 3)

    // upsert same ids with different vectors: last write wins, count unchanged
    val moved = records.withColumn("values",
      transform(col("values"), x => x * lit(2.0f)))
    idx.upsert(moved)
    assert(idx.scan().count() == 500)
    val after = idx.fetch(Seq("doc-3-0")).select("values").as[Seq[Float]].head()
    val before = records.filter($"id" === "doc-3-0")
      .select("values").as[Seq[Float]].head()
    assert(after == before.map(_ * 2.0f))

    // delete by id (Q4)
    idx.delete(Seq("doc-3-0", "doc-4-0"))
    assert(idx.scan().count() == 498)
    assert(idx.fetch(Seq("doc-3-0")).isEmpty)

    // wrong-dim upsert rejected
    intercept[IngestError] {
      idx.upsert(records.withColumn("values", slice(col("values"), 1, 10)))
    }
    // a null embedding is rejected by the same pre-write probe: no
    // snapshot is committed
    val snapsBefore = idx.snapshots()
    intercept[IngestError] {
      idx.upsert(records.withColumn("values",
        when(col("id") === "doc-5-0", lit(null)).otherwise(col("values"))))
    }
    assert(idx.snapshots() == snapsBefore)
  }
}

/** Local filesystem that wedges opens issued by VectorIndex's
  * dedicated footer-read pool (thread-name targeted) UNINTERRUPTIBLY
  * for 60s — the blocked-in-native-I/O shape that `shutdownNow()`
  * cannot unstick. All other I/O (spark writes, executor scans,
  * manifest reads) passes through untouched. */
class FooterBlockingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = FooterBlockingFs.Scheme
  override def getUri: java.net.URI =
    java.net.URI.create(s"${FooterBlockingFs.Scheme}:///")
  override def open(f: org.apache.hadoop.fs.Path,
      bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    if (Thread.currentThread().getName.startsWith("graft-footer-read")) {
      FooterBlockingFs.blockedOpens.incrementAndGet()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (System.nanoTime() < deadline) {
        try Thread.sleep(1000)
        catch { case _: InterruptedException => () } // uninterruptible on purpose
      }
    }
    super.open(f, bufferSize)
  }
}
object FooterBlockingFs {
  val Scheme = "blockfooter"
  val blockedOpens = new java.util.concurrent.atomic.AtomicInteger(0)
}
