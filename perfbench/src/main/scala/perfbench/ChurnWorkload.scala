package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import graft.operators.VectorIndex
import graft.streaming.StreamOps
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** `churn`: seeded micro-batches, some rows planted copies of vectors the
  * standing set already holds, stream through the epoch dedup-ingest into an
  * active epoch beside frozen epoch shards. Set-up builds the frozen epochs
  * and runs a first micro-batch that creates the active epoch. One round:
  * one micro-batch to completion on its own trigger, an ANN probe of the
  * active epoch, a scatter probe over frozen and active epochs, and a
  * delete of two rows committed by earlier batches. */
object ChurnWorkload {

  val Stream = 30L
  val K = 10
  val BatchRows = 32
  val ActiveRows = 64
  val CopyShare = 0.125
  /** Cosine at or above which the ingest drops a row as a duplicate. */
  val Threshold = 0.95

  val schema: StructType = new StructType().add("id", "string").add("values", "array<float>")
    .add("metadata", new StructType().add("chunk_index", "int").add("source", "string"))

  def run(r: Run, frozenRows: Int, epochs: Int): Unit = {
    val spark = r.spark
    val seed = r.seed
    val dir = s"${r.work}/churn"
    val vecUdf = udf((e: Long, i: Long) => Gen.vector(seed, Stream + 1 + e, i))

    val activePath = s"$dir/active"
    val frozen = r.setup("build") {
      (0 until epochs).map { e =>
        val v = VectorIndex.ensure(spark, s"$dir/frozen$e", Gen.Dim)
        v.upsert(spark.range(frozenRows).select(concat(lit(s"f$e-"), col("id")).as("id"),
          vecUdf(lit(e.toLong), col("id")).as("values"),
          struct(lit(0).as("chunk_index"), lit(s"epoch$e").as("source")).as("metadata")))
        v
      }
    }
    val src = Paths.get(dir, "src")
    Files.createDirectories(src)

    r.trace.foreach(t => spark.streams.addListener(t.streamListener))
    val query = StreamOps.vectorDedupIngestEpoch(
      spark.readStream.schema(schema).parquet(src.toString),
      frozen.map(_.path), activePath, Gen.Dim, Threshold)
      .option("checkpointLocation", s"$dir/checkpoint").start()

    /** Stages a micro-batch as one parquet file beside the source
      * directory; [[release]] moves it in and runs it to completion. */
    def land(name: String, batch: Seq[(String, Array[Float], Boolean)]): Unit = {
      val stage = s"$dir/stage-$name"
      spark.createDataFrame(spark.sparkContext.parallelize(batch.map { case (id, v, _) =>
        Row(id, v.toSeq, Row(0, "stream")) }, 1), schema).write.parquet(stage)
      val file = Files.list(Paths.get(stage)).filter(_.toString.endsWith(".parquet")).findFirst().get
      Files.move(file, Paths.get(s"$dir/ready-$name.parquet"))
    }
    def release(name: String): Unit = {
      Files.move(Paths.get(s"$dir/ready-$name.parquet"), src.resolve(s"$name.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
      query.processAllAvailable()
    }

    // the first micro-batch creates the active epoch, pays the stream's
    // start-up and leaves rows a delete can take from round 0
    val seedRows = (0 until ActiveRows).map(i => (s"s-$i", Gen.vector(seed, Stream, i.toLong), false))
    r.setup("stream") {
      land("seed", seedRows)
      release("seed")
    }
    val active = VectorIndex.open(spark, activePath)

    // oracle state: every live vector by id, and what was deleted
    val live = mutable.LinkedHashMap.empty[String, Array[Float]]
    for (e <- 0 until epochs; i <- 0 until frozenRows)
      live(s"f$e-$i") = Gen.vector(seed, Stream + 1 + e, i.toLong)
    val accepted = mutable.ArrayBuffer.empty[String]
    seedRows.foreach { case (id, v, _) => live(id) = v; accepted += id }
    val deleted = mutable.Set.empty[String]
    val planted = mutable.Set.empty[String]
    val recalls = mutable.ArrayBuffer.empty[Double]

    /** Micro-batch `b`: fresh rows "a<b>-<j>" and copies "c<b>-<j>" of a
      * live vector, each copy of a distinct source. */
    def rows(b: Int): Seq[(String, Array[Float], Boolean)] = {
      val rr = Gen.rng(seed, 60, b)
      val pool = live.keys.toIndexedSeq
      val used = mutable.Set.empty[String]
      (0 until BatchRows).map { j =>
        if (rr.nextDouble() < CopyShare) {
          var s = pool(rr.nextInt(pool.size))
          while (used(s)) s = pool(rr.nextInt(pool.size))
          used += s
          (s"c$b-$j", live(s), true)
        } else (s"a$b-$j", Gen.vector(seed, Stream, (b + 1) * 1000L + j), false)
      }
    }

    def trueScore(q: Array[Float])(id: String): Double = live.get(id).map(Oracle.cosine(_, q)).getOrElse(Double.NaN)
    def hits(df: DataFrame): Seq[(String, Double)] =
      df.select(col("id"), col("score")).collect().map(x => (x.getString(0), x.getDouble(1))).toSeq
    def checkHits(what: String, got: Seq[(String, Double)], q: Array[Float]): Unit = {
      r.check(got.nonEmpty && got.map(_._1).distinct.size == got.size, s"$what: ${got.size} hits or repeated ids")
      got.foreach { case (id, s) =>
        r.check(!deleted(id), s"$what: deleted id $id returned")
        r.check(!planted(id), s"$what: planted copy $id returned")
        r.check(Oracle.near(s, trueScore(q)(id), Oracle.ScoreEps), s"$what: $id score $s != cosine ${trueScore(q)(id)}")
      }
    }

    def round(b: Int): Option[(Long, Long)] = {
      val batch = rows(b)
      land(s"b$b", batch)
      val rd = new r.Round
      val ok = rd.timed("stream.batch")(r.call("stream.batch")(release(s"b$b")))
      if (ok.isDefined) batch.foreach { case (id, v, copy) =>
        if (copy) planted += id else { live(id) = v; accepted += id }
      }

      // the batch's own rows are visible to the very next probe
      val rr = Gen.rng(seed, 61, b)
      val fresh = batch.filterNot(_._3)
      val (fid, fv, _) = fresh(rr.nextInt(fresh.size))
      rd.timed("approx")(r.call("vidx.approx") { hits(active.queryApprox(fv, K)) }).foreach { got =>
        checkHits("vidx.approx", got, fv)
        r.check(got.headOption.exists(h => h._1 == fid || Oracle.near(h._2, 1.0, Oracle.ScoreEps)),
          s"batch $b: probe for its row $fid returned ${got.take(3)}")
      }

      val pool = live.keys.toIndexedSeq
      val qv = Gen.perturb(seed, Stream, b.toLong, live(pool(rr.nextInt(pool.size))))
      rd.timed("scatter")(r.call("scatter.knn") {
        hits(VectorIndex.queryManyApprox(frozen :+ active, qv, K))
      }).foreach { got =>
        checkHits("scatter.knn", got, qv)
        val exact = Oracle.topK(live, qv, K).map(_._1).toSet
        recalls += got.count(h => exact(h._1)).toDouble / exact.size
      }

      // two rows committed by earlier batches leave the active epoch
      val older = accepted.filterNot(id => deleted(id) || fresh.exists(_._1 == id))
      val gone = Seq.fill(2)(older(rr.nextInt(older.size))).distinct
      rd.timed("delete")(r.call("vidx.delete") { active.delete(gone) })
        .foreach(_ => gone.foreach { id => deleted += id; live -= id })
      rd.result
    }

    try {
      r.loop(round)
    } finally {
      query.stop()
    }
    r.check(query.exception.isEmpty, s"stream failed: ${query.exception}")
    val stored = active.scan().select("id").collect().map(_.getString(0)).toSet
    val want = accepted.filterNot(deleted).toSet
    r.check(stored == want, s"active epoch holds ${stored.size} ids, want ${want.size}: " +
      s"missing ${(want -- stored).take(5)}, extra ${(stored -- want).take(5)}")
    r.metrics("scatter.knn.recall_at_10") = recalls.sum / recalls.size
    r.metrics("index_bytes_per_vector_byte") = r.bytesPerVectorByte(active.scan(), stored.size, Gen.Dim)
  }
}
