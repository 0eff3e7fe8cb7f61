package perfbench

import graft.functions.TableFunctions
import graft.operators.{InvertedIndex, VectorIndex}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import Oracle.{near, ScoreEps}

/** `serve`: one client in a closed loop over standing indexes built during
  * set-up; no write runs. The corpus is split into vector and lexical
  * shards by id. A round is the fixed op mix, each op once, with queries
  * the seed picks: ANN unfiltered and filtered, exact, BM25 and a batch kNN
  * join against shard 0; a scatter over every vector shard; and one SQL
  * hybrid statement that fuses sharded kNN and BM25 by reciprocal rank. */
object ServeWorkload {

  val Stream = 20L
  val K = 10
  val JoinBatch = 4
  /** Depth of each list the SQL hybrid fuses. */
  val FuseDepth = 50

  def run(r: Run, corpus: Int, shards: Int): Unit = {
    val spark = r.spark
    val seed = r.seed
    val dir = s"${r.work}/serve"

    val vecUdf = udf((i: Long) => Gen.vector(seed, Stream, i))
    val textUdf = udf((i: Long) => Gen.passage(seed, Stream, i))
    val langUdf = udf((i: Long) => Gen.lang(seed, Stream, i))
    val srcUdf = udf((i: Long) => Gen.source(seed, Stream, i))
    def items(pred: org.apache.spark.sql.Column): DataFrame = spark.range(corpus).toDF().filter(pred)
    def vectors(df: DataFrame): DataFrame = df.select(col("id").cast("string").as("id"),
      vecUdf(col("id")).as("values"),
      struct(langUdf(col("id")).as("lang"), srcUdf(col("id")).as("source"),
        lit(0).as("chunk_index")).as("metadata"))
    def texts(df: DataFrame): DataFrame = df.select(col("id").as("doc"), textUdf(col("id")).as("text"))
    def shard(s: Int) = col("id") % shards === s

    val vshards = r.setup("build_vectors") {
      (0 until shards).map { s =>
        val v = VectorIndex.ensure(spark, s"$dir/vshard$s", Gen.Dim)
        v.upsert(vectors(items(shard(s))))
        v
      }
    }
    val lshards = r.setup("build_postings") {
      (0 until shards).map { s =>
        InvertedIndex.writeIndex(texts(items(shard(s))), "doc", "text", s"$dir/lshard$s")
        s"$dir/lshard$s"
      }
    }
    val (vidx, lex) = (vshards.head, lshards.head)
    TableFunctions.register(spark)

    // the oracle's own copy of the corpus
    val vecs = Array.tabulate(corpus)(i => Gen.vector(seed, Stream, i.toLong))
    val langs = Array.tabulate(corpus)(i => Gen.lang(seed, Stream, i.toLong))
    val all = vecs.indices.map(i => i.toString -> vecs(i))
    val rows = all.filter(_._1.toInt % shards == 0)
    val texts0 = (0 until corpus).map(i => i.toLong -> Oracle.tokens(Gen.passage(seed, Stream, i.toLong)))
    val bm25All = new Oracle.Bm25(texts0.toMap)
    val bm25 = new Oracle.Bm25(texts0.filter(_._1 % shards == 0).toMap)
    def trueScore(q: Array[Float])(id: String): Double = Oracle.cosine(vecs(id.toInt), q)

    val recalls = scala.collection.mutable.Map.empty[String, List[Double]].withDefaultValue(Nil)
    def hits(df: DataFrame): Seq[(String, Double)] =
      df.select(col("id"), col("score")).collect().map(x => (x.getString(0), x.getDouble(1))).toSeq

    /** An ANN answer: distinct ids, each with its true cosine, descending,
      * passing `keep`; its recall against the exact top-k is recorded. */
    def checkApprox(what: String, got: Seq[(String, Double)], q: Array[Float],
        keep: String => Boolean = _ => true, pool: Seq[(String, Array[Float])] = rows): Unit = {
      r.check(got.nonEmpty && got.size <= K && got.map(_._1).distinct.size == got.size,
        s"$what: ${got.size} hits or repeated ids")
      got.foreach { case (id, s) =>
        r.check(keep(id), s"$what: hit $id fails the filter")
        r.check(near(s, trueScore(q)(id), ScoreEps), s"$what: $id score $s != cosine ${trueScore(q)(id)}")
      }
      r.check(got.map(_._2) == got.map(_._2).sortBy(-_), s"$what: hits not in score order")
      val exact = Oracle.topK(pool, q, K, keep).map(_._1).toSet
      recalls(what) = got.count(h => exact(h._1)).toDouble / exact.size :: recalls(what)
    }

    /** An exact answer: the oracle's scores rank by rank (ties may swap
      * ids), each id carrying its own true score. */
    def checkExact[I](what: String, got: Seq[(I, Double)], want: Seq[(I, Double)], truth: I => Double): Unit = {
      r.check(got.size == want.size && got.map(_._1).distinct.size == got.size,
        s"$what: ${got.size} hits, want ${want.size}")
      got.zip(want).foreach { case ((id, s), (_, ws)) =>
        r.check(near(s, ws, ScoreEps), s"$what: score $s at its rank, oracle has $ws")
        r.check(near(s, truth(id), ScoreEps), s"$what: $id score $s != its true score ${truth(id)}")
      }
    }

    def round(i: Int): Option[(Long, Long)] = {
      val qr = Gen.rng(seed, 77, i)
      // queries sit near a shard-0 item, so every op has close neighbours
      def query(): (Int, Array[Float]) = {
        val j = qr.nextInt(corpus / shards) * shards
        j -> Gen.perturb(seed, Stream, i * 16L + qr.nextInt(16), vecs(j))
      }
      val rd = new r.Round
      val (_, q1) = query()
      rd.timed("approx")(r.call("vidx.approx") { hits(vidx.queryApprox(q1, K)) })
        .foreach(checkApprox("vidx.approx", _, q1))

      val (_, q2) = query()
      rd.timed("approx_filtered")(r.call("vidx.approx_filtered") {
        hits(vidx.queryApprox(q2, K, filter = Some(col("metadata.lang") === "de")))
      }).foreach(checkApprox("vidx.approx_filtered", _, q2, id => langs(id.toInt) == "de"))

      val (_, q3) = query()
      rd.timed("exact")(r.call("vidx.exact") { hits(vidx.query(q3, K)) })
        .foreach(checkExact("vidx.exact", _, Oracle.topK(rows, q3, K), trueScore(q3)))

      val (j4, _) = query()
      val terms = Gen.terms(seed, Stream, j4.toLong)
      rd.timed("bm25")(r.call("lex.bm25") {
        InvertedIndex.bm25Search(spark, lex, terms, K).collect()
          .map(x => (x.getLong(0), x.getDouble(1))).toSeq
      }).foreach { got =>
        val all = bm25.scores(terms)
        checkExact("lex.bm25", got, bm25.topK(terms, K), (d: Long) => all.getOrElse(d, 0.0))
      }

      val batch = Seq.fill(JoinBatch)(query()._2)
      val qdf = spark.createDataFrame(spark.sparkContext.parallelize(
        batch.zipWithIndex.map { case (v, n) => Row(s"q$n", v.toSeq) }, 1),
        new org.apache.spark.sql.types.StructType().add("qid", "string")
          .add("vec", "array<float>"))
      rd.timed("join")(r.call("vidx.join") {
        vidx.knnJoin(qdf, "qid", "vec", K).select("query_id", "id", "score").collect()
          .map(x => (x.getString(0), x.getString(1), x.getDouble(2))).toSeq
      }).foreach { got =>
        val byQ = got.groupBy(_._1)
        r.check(byQ.size == JoinBatch, s"vidx.join: answers for ${byQ.size} of $JoinBatch queries")
        batch.zipWithIndex.foreach { case (v, n) =>
          val mine = byQ.getOrElse(s"q$n", Nil).sortBy(-_._3).map(h => (h._2, h._3))
          checkApprox("vidx.join", mine, v)
        }
      }

      val (_, q6) = query()
      rd.timed("scatter")(r.call("scatter.knn") {
        hits(VectorIndex.queryManyApprox(vshards, q6, K))
      }).foreach(checkApprox("scatter.knn", _, q6, pool = all))

      val (j7, q7) = query()
      val t7 = Gen.terms(seed, Stream, j7.toLong)
      rd.timed("hybrid")(r.call("sql.hybrid") {
        spark.sql(hybridSql(lshards, vshards.map(_.path), t7, q7)).collect()
          .map(x => (x.getLong(0), x.getDouble(1))).toSeq
      }).foreach { got =>
        val lexRanks = bm25All.topK(t7, FuseDepth)
          .sortBy(h => (-math.floor(h._2 * 1e6), h._1)).map(_._1)
        val vecRanks = Oracle.topK(all, q7, FuseDepth).sortBy(h => (-h._2, h._1.toLong)).map(_._1.toLong)
        val want = Oracle.rrf(Seq(lexRanks, vecRanks), K)
        r.check(got.map(_._1) == want.map(_._1) && got.zip(want).forall(p => near(p._1._2, p._2._2, ScoreEps)),
          s"sql.hybrid: fused $got, oracle $want")
      }
      rd.result
    }

    r.loop(round)
    recalls.foreach { case (k, v) => r.metrics(s"$k.recall_at_10") = v.sum / v.size }
    r.check(recalls.filter(_._1 != "vidx.join").values.forall(v => v.sum / v.size >= 0.5),
      s"mean ANN recall below 0.5: ${recalls.map { case (k, v) => k -> v.sum / v.size }}")
    r.metrics("index_bytes_per_vector_byte") = r.bytesPerVectorByte(vidx.scan(), rows.size, Gen.Dim)
  }

  /** q270's shape: top-FuseDepth of each sharded relation, ranked, fused by
    * 1/(60 + rank). BM25 scores rank on 1e-6 steps so float noise in the
    * last digits cannot reorder near-equal docs. */
  def hybridSql(lex: Seq[String], vec: Seq[String], terms: Seq[String], q: Array[Float]): String =
    s"""WITH lex AS (
       |  SELECT doc AS doc_id,
       |    ROW_NUMBER() OVER (ORDER BY score_u DESC, doc) AS r
       |  FROM (SELECT doc, CAST(FLOOR(score * 1000000.0) AS BIGINT) AS score_u
       |        FROM graft_bm25_sharded('${lex.mkString(";")}', '${terms.mkString(" ")}', $FuseDepth))),
       |vec AS (
       |  SELECT CAST(id AS BIGINT) AS doc_id,
       |    ROW_NUMBER() OVER (ORDER BY score DESC, CAST(id AS BIGINT)) AS r
       |  FROM graft_knn_sharded('${vec.mkString(";")}', '${q.mkString(",")}', $FuseDepth))
       |SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
       |  COALESCE(CAST(1.0 AS DOUBLE) / CAST(60 + l.r AS DOUBLE), 0.0)
       |    + COALESCE(CAST(1.0 AS DOUBLE) / CAST(60 + v.r AS DOUBLE), 0.0) AS rrf
       |FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id
       |ORDER BY rrf DESC, doc_id LIMIT $K""".stripMargin
}
