package perfbench

import scala.collection.mutable

import graft.core.{Chunker, HashingEmbedder}
import graft.operators.{Dedup, Ingest, InvertedIndex, MinhashIndex, VectorIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `ingest`: a seeded document stream arrives in fixed-size batches; each
  * batch is deduplicated against the standing MinHash index, chunked and
  * embedded, and committed to the vector, lexical and MinHash indexes. No
  * probe runs. One round is one batch. */
object IngestWorkload {

  val SeedDocs = 24
  val BatchDocs = 24
  val Stream = 10L
  /** Share of planted identical copies and of near-duplicates per batch. */
  val CopyShare = 0.12
  val NearShare = 0.12
  /** Word substitution rate of a near-duplicate: 3-shingle Jaccard ~0.75. */
  val NearMutation = 0.05
  /** The MinHash drop threshold the engine applies by default. */
  val Threshold = 0.5

  final case class Doc(id: Long, text: String, kind: Char, src: Long)

  private def fresh(seed: Long, n: Long): Boolean =
    n < SeedDocs || Gen.rng(seed, 50, n).nextDouble() >= CopyShare + NearShare

  /** Doc `n` of the stream: fresh text, an identical copy ('c') or a
    * near-duplicate ('n') of a fresh doc of an earlier batch. */
  def doc(seed: Long, n: Long): Doc = {
    val r = Gen.rng(seed, 50, n)
    val u = r.nextDouble()
    if (n < SeedDocs || u >= CopyShare + NearShare)
      Doc(n, Gen.document(seed, Stream, n), 'f', -1)
    else {
      val batchStart = SeedDocs + (n - SeedDocs) / BatchDocs * BatchDocs
      var src = (r.nextLong() >>> 1) % batchStart
      while (!fresh(seed, src)) src -= 1
      val text = Gen.document(seed, Stream, src)
      if (u < CopyShare) Doc(n, text, 'c', src)
      else Doc(n, Gen.mutate(seed, n, text, NearMutation), 'n', src)
    }
  }

  def batch(seed: Long, b: Int): Seq[Doc] = {
    val lo = SeedDocs + b.toLong * BatchDocs
    (lo until lo + BatchDocs).map(doc(seed, _))
  }

  def run(r: Run): Unit = {
    val spark = r.spark
    import spark.implicits._
    def docsDf(ds: Seq[Doc]): DataFrame = ds.map(d => (d.id, d.text)).toDF("doc_id", "text")
    def chunkKeys(chunks: DataFrame): DataFrame =
      chunks.select((col("doc_id").cast("long") * 100 + col("chunk_index")).as("key"), col("chunk_text"))

    // the standing indexes: the seed corpus committed once, no dedup yet
    val seedDocs = (0L until SeedDocs).map(doc(r.seed, _))
    val dir = s"${r.work}/ingest"
    val (vidx, lex, mh) = r.setup("build") {
      val vidx = VectorIndex.ensure(spark, s"$dir/vidx", Gen.Dim)
      val chunks = Ingest.pipeline(docsDf(seedDocs)).persist()
      vidx.upsert(chunks.select("id", "values", "metadata"))
      InvertedIndex.writeIndex(chunkKeys(chunks), "key", "chunk_text", s"$dir/lex")
      MinhashIndex.append(Dedup.prepareMinhash(docsDf(seedDocs), "doc_id", "text"), s"$dir/mh")
      chunks.unpersist()
      (vidx, s"$dir/lex", s"$dir/mh")
    }

    // oracle state: shingle sets of every committed doc
    val kept = mutable.LinkedHashMap.empty[Long, Set[String]]
    seedDocs.foreach(d => kept(d.id) = Oracle.shingles(d.text))
    val embedder = new HashingEmbedder()

    def oneBatch(b: Int): Option[(Long, Long)] = {
      val docs = batch(r.seed, b)
      val round = new r.Round
      r.trace.foreach { _ =>
        // chunker and embedder rates, measured in the client over the
        // same texts the pipeline's tasks cut and embed
        val pieces = r.call("chunker.split") { docs.flatMap(d => Chunker.split(d.text)) }
        r.call("embedder.embed") { embedder.embed(pieces) }
      }
      val res = round.timed("batch") {
        val df = docsDf(docs)
        val dropped = r.call("minhash.drops") {
          MinhashIndex.drops(spark, mh, Dedup.prepareMinhash(df, "doc_id", "text"))
            .collect().map(_.getLong(0)).toSet
        }
        val survivors = docs.filterNot(d => dropped(d.id))
        if (survivors.nonEmpty) {
          val sdf = docsDf(survivors)
          val chunks = r.call("ingest.pipeline") {
            val c = Ingest.pipeline(sdf).persist()
            c.count()
            c
          }
          r.call("vidx.upsert") { vidx.upsert(chunks.select("id", "values", "metadata")) }
          r.call("lex.append") { InvertedIndex.appendIndex(chunkKeys(chunks), "key", "chunk_text", lex) }
          r.call("minhash.append") { MinhashIndex.append(Dedup.prepareMinhash(sdf, "doc_id", "text"), mh) }
          chunks.unpersist()
        }
        dropped
      }
      res.foreach { dropped =>
        docs.foreach { d =>
          val sh = Oracle.shingles(d.text)
          if (d.kind == 'c')
            r.check(dropped(d.id), s"batch $b: planted copy ${d.id} of ${d.src} was not dropped")
          if (dropped(d.id)) {
            // a drop must be verified against a doc the index holds
            val ok = kept.get(d.src).exists(Oracle.jaccard(sh, _) >= Threshold) ||
              kept.valuesIterator.exists(Oracle.jaccard(sh, _) >= Threshold)
            r.check(ok, s"batch $b: doc ${d.id} dropped with no kept near-duplicate")
          }
        }
        docs.filterNot(d => dropped(d.id)).foreach(d => kept(d.id) = Oracle.shingles(d.text))
      }
      round.result
    }

    r.loop(oneBatch)

    // every kept doc, and no dropped one, is committed to every index
    val stored = vidx.scan().select("id").as[String].collect()
      .map(_.split("-")(1).toLong).toSet
    r.check(stored == kept.keySet, s"vector index docs ${stored.size} != kept docs ${kept.size}")
    r.check(MinhashIndex.payloadCount(spark, mh) == kept.size,
      s"MinHash index census != kept docs ${kept.size}")
    val rows = vidx.scan().count()
    r.metrics("index_bytes_per_vector_byte") = r.bytesPerVectorByte(vidx.scan(), rows, Gen.Dim)
    System.err.println(s"ingest: ${kept.size} docs kept, $rows chunks")
  }
}
