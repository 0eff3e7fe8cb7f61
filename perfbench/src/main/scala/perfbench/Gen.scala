package perfbench

/** Seeded inputs. Every value is a pure function of (seed, stream, index),
  * so a seed gives the same inputs whatever order they are drawn in, and
  * Spark tasks regenerate exactly the rows the oracle holds. */
object Gen {

  val Dim = 384
  val Langs: Array[String] = Array("en", "de", "fr", "es")
  val Sources: Array[String] = Array("pdf", "html", "txt")
  /** Topic clusters: vectors and texts of one topic are near each other. */
  val Topics = 48

  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  final class Rng(private var s: Long) {
    def nextLong(): Long = { s += 0x9E3779B97F4A7C15L; mix(s) }
    def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
    def nextInt(n: Int): Int = ((nextLong() >>> 1) % n).toInt
    def nextGaussian(): Double = {
      val u = math.max(nextDouble(), 1e-300)
      math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * nextDouble())
    }
  }

  def rng(seed: Long, stream: Long, i: Long): Rng =
    new Rng(mix(mix(seed * 31 + stream) ^ i))

  // ---- vectors ----

  private def normalize(v: Array[Double]): Array[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  def center(seed: Long, topic: Int): Array[Double] = {
    val r = rng(seed, 1, topic)
    Array.fill(Dim)(r.nextGaussian())
  }

  def topicOf(seed: Long, stream: Long, i: Long): Int =
    rng(seed, stream + 100, i).nextInt(Topics)

  /** Unit vector of item `i` in `stream`: its topic's centre plus noise of
    * about the same norm, so same-topic cosines sit near 0.5 and
    * cross-topic ones near 0. */
  def vector(seed: Long, stream: Long, i: Long): Array[Float] = {
    val c = center(seed, topicOf(seed, stream, i))
    val r = rng(seed, stream + 200, i)
    normalize(c.map(_ + r.nextGaussian()))
  }

  /** A query near `base`: the vector plus a small perturbation. */
  def perturb(seed: Long, stream: Long, i: Long, base: Array[Float]): Array[Float] = {
    val r = rng(seed, stream + 300, i)
    normalize(base.map(_ + 0.02 * r.nextGaussian()))
  }

  def lang(seed: Long, stream: Long, i: Long): String =
    Langs(rng(seed, stream + 400, i).nextInt(Langs.length))
  def source(seed: Long, stream: Long, i: Long): String =
    Sources(rng(seed, stream + 500, i).nextInt(Sources.length))

  // ---- text ----

  private val Syl = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo",
    "be", "da", "fe", "go", "hu", "ji", "pe", "zo")
  /** 4096 distinct pseudo-words of 3 syllables, fixed across seeds. */
  val Vocab: Array[String] = Array.tabulate(4096)(w =>
    Syl(w & 15) + Syl((w >> 4) & 15) + Syl((w >> 8) & 15))

  /** A word: half from the topic's own 64-word slice, half Zipf-like over
    * the whole vocabulary, so topic terms make selective BM25 queries. */
  private def word(r: Rng, topic: Int): String =
    if (r.nextDouble() < 0.5) Vocab((topic * 64 + r.nextInt(64)) % Vocab.length)
    else Vocab(math.min(Vocab.length - 1,
      (math.pow(Vocab.length.toDouble, r.nextDouble()) - 1).toInt))

  def words(seed: Long, stream: Long, i: Long, n: Int): Array[String] = {
    val r = rng(seed, stream + 600, i)
    val t = topicOf(seed, stream, i)
    Array.fill(n)(word(r, t))
  }

  /** A chunk-sized passage of 40-80 words. */
  def passage(seed: Long, stream: Long, i: Long): String = {
    val n = 40 + rng(seed, stream + 700, i).nextInt(41)
    words(seed, stream, i, n).mkString(" ")
  }

  /** A multi-chunk document: 6-12 paragraphs of 50-90 words, separated by
    * blank lines, so the default 2000-character chunker cuts it in 2-4. */
  def document(seed: Long, stream: Long, i: Long): String = {
    val r = rng(seed, stream + 800, i)
    val ws = words(seed, stream, i, 900)
    val paras = 6 + r.nextInt(7)
    var at = 0
    (0 until paras).map { _ =>
      val n = 50 + r.nextInt(41)
      val p = ws.slice(at, at + n).mkString(" ")
      at = (at + n) % 800
      p
    }.mkString("\n\n")
  }

  /** `text` with each word replaced with probability `p` by another. */
  def mutate(seed: Long, i: Long, text: String, p: Double): String = {
    val r = rng(seed, 900, i)
    text.split("\n\n").map(_.split(" ").map(w =>
      if (r.nextDouble() < p) Vocab(r.nextInt(Vocab.length)) else w).mkString(" "))
      .mkString("\n\n")
  }

  /** Query terms: two distinct words of the topic slice of item `i`. */
  def terms(seed: Long, stream: Long, i: Long): Seq[String] = {
    val r = rng(seed, stream + 1000, i)
    val t = topicOf(seed, stream, i)
    val a = r.nextInt(64)
    val b = (a + 1 + r.nextInt(63)) % 64
    Seq(a, b).map(w => Vocab((t * 64 + w) % Vocab.length))
  }
}
