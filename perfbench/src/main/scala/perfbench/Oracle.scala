package perfbench

/** Reference answers computed apart from the engine, in plain Scala. The
  * engine's results are checked against these or against properties any
  * correct answer has; [[Oracle.selfTest]] pins each on a case small enough
  * to work out by hand. */
object Oracle {

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    if (na == 0 || nb == 0) 0.0 else d / math.sqrt(na * nb)
  }

  /** Exact top-k by cosine over `corpus` rows passing `keep`, ranked by
    * (score desc, id asc). */
  def topK(corpus: Iterable[(String, Array[Float])], q: Array[Float], k: Int,
      keep: String => Boolean = _ => true): Seq[(String, Double)] =
    corpus.iterator.filter(r => keep(r._1)).map(r => (r._1, cosine(r._2, q)))
      .toSeq.sortBy(r => (-r._2, r._1)).take(k)

  def tokens(text: String): Array[String] =
    "[a-z0-9]+".r.findAllIn(text.toLowerCase).toArray

  /** BM25 (k1 1.2, b 0.75, idf ln((N - df + .5)/(df + .5) + 1)) over a
    * tokenized corpus; top-k by (score desc, doc asc). */
  final class Bm25(docs: Map[Long, Array[String]]) {
    private val n = docs.size.toDouble
    private val avgdl = docs.valuesIterator.map(_.length.toLong).sum / n
    private val tf: Map[String, Map[Long, Int]] =
      docs.toSeq.flatMap { case (d, ts) => ts.groupBy(identity).map { case (t, o) => (t, d, o.length) } }
        .groupBy(_._1).map { case (t, rows) => t -> rows.map(r => r._2 -> r._3).toMap }
    def scores(terms: Seq[String]): Map[Long, Double] =
      terms.distinct.flatMap { t =>
        val post = tf.getOrElse(t, Map.empty)
        val df = post.size.toDouble
        val idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
        post.map { case (d, f) =>
          val dl = docs(d).length.toDouble
          d -> idf * f * 2.2 / (f + 1.2 * (0.25 + 0.75 * dl / avgdl))
        }
      }.groupMapReduce(_._1)(_._2)(_ + _)
    def topK(terms: Seq[String], k: Int): Seq[(Long, Double)] =
      scores(terms).toSeq.sortBy(r => (-r._2, r._1)).take(k)
  }

  /** Distinct word 3-shingles (the whole token list when shorter). */
  def shingles(text: String): Set[String] = {
    val t = tokens(text)
    if (t.length < 3) (if (t.isEmpty) Set.empty else Set(t.mkString(" ")))
    else t.sliding(3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 0.0
    else (a intersect b).size.toDouble / (a union b).size

  /** Reciprocal-rank fusion, 1/(c + rank) with 1-based ranks; top-k by
    * (score desc, id asc). */
  def rrf(lists: Seq[Seq[Long]], k: Int, c: Int = 60): Seq[(Long, Double)] =
    lists.flatMap(_.zipWithIndex.map { case (id, r) => id -> 1.0 / (c + r + 1) })
      .groupMapReduce(_._1)(_._2)(_ + _).toSeq.sortBy(r => (-r._2, r._1)).take(k)

  /** Relative tolerance of an engine score against the oracle's: the engine
    * sums in float and in another order. */
  val ScoreEps = 1e-6

  def near(a: Double, b: Double, eps: Double): Boolean =
    math.abs(a - b) <= eps * math.max(1.0, math.abs(b))

  /** Hand-computed cases; throws on the first disagreement. */
  def selfTest(): Unit = {
    def check(ok: Boolean, what: String): Unit =
      if (!ok) throw new IllegalStateException(s"oracle self-test failed: $what")
    val eps = 1e-9
    // cosine((1,0),(1,1)) = 1/sqrt(2); "b" ties "c" at 1.0 and wins on id
    val corpus = Seq("c" -> Array(1f, 0f), "b" -> Array(2f, 0f),
      "a" -> Array(1f, 1f), "d" -> Array(0f, 1f))
    check(near(cosine(Array(1f, 0f), Array(1f, 1f)), 1 / math.sqrt(2), eps), "cosine")
    check(topK(corpus, Array(1f, 0f), 3).map(_._1) == Seq("b", "c", "a"), "topK ties by id")
    check(topK(corpus, Array(1f, 0f), 2, _ != "b").map(_._1) == Seq("c", "a"), "filtered topK")
    // BM25 over d1 = "x y", d2 = "x x z" (avgdl 2.5), query "x":
    // df 2, idf ln(0.5/2.5 + 1) = ln 1.2; d1: tf 1, dl 2 -> 2.2/(1 + 1.2(.25 + .6)) = 2.2/2.02
    // d2: tf 2, dl 3 -> 4.4/(2 + 1.2(.25 + .9)) = 4.4/3.38
    val bm = new Bm25(Map(1L -> tokens("X y"), 2L -> tokens("x, x z")))
    val s = bm.scores(Seq("x"))
    check(near(s(1L), math.log(1.2) * 2.2 / 2.02, eps) && near(s(2L), math.log(1.2) * 4.4 / 3.38, eps), "bm25")
    check(bm.topK(Seq("x"), 1).map(_._1) == Seq(2L), "bm25 topK")
    // shingles of "a b c d" = {a b c, b c d}; of "a b c e" = {a b c, b c e}: J = 1/3
    check(near(jaccard(shingles("a b c d"), shingles("A b c, e")), 1.0 / 3, eps), "jaccard")
    // rrf: 7 is rank 1 and rank 2 -> 1/61 + 1/62; 8 rank 2 -> 1/62; 9 rank 1 -> 1/61
    val f = rrf(Seq(Seq(7L, 8L), Seq(9L, 7L)), 3)
    check(f.map(_._1) == Seq(7L, 9L, 8L) && near(f.head._2, 1.0 / 61 + 1.0 / 62, eps), "rrf")
  }
}
