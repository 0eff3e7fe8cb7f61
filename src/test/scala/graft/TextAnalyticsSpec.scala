package graft

import graft.operators.TextAnalytics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextAnalyticsSpec extends AnyFunSuite {

  test("cooccurrenceTopK: joint counts, lift, df band drops stopwords and hapax") {
    import graft.operators.TextAnalytics
    val sp = TestSpark.spark
    import sp.implicits._
    val docs = Seq(
      (1L, "the alpha beta"), (2L, "the alpha beta"),
      (3L, "the alpha gamma"), (4L, "the beta gamma rare"))
      .toDF("doc_id", "text")
    // df: the=4 (stopword, > maxDf), alpha=3, beta=3, gamma=2, rare=1 (< minDf)
    val out = TextAnalytics.cooccurrenceTopK(docs, "doc_id", "text",
        minDf = 2, maxDf = 3, k = 10)
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      ("alpha", "beta", 2L, 3L, 3L, 2 * 4.0 / 9),
      ("alpha", "gamma", 1L, 3L, 2L, 1 * 4.0 / 6),
      ("beta", "gamma", 1L, 3L, 2L, 1 * 4.0 / 6)))
    // no pair involves the banded-out tokens
    assert(out.forall { case (a, b, _, _, _, _) =>
      !Set(a, b).exists(Set("the", "rare")) })
  }

  test("NgramLm: trained trigram model separates corpus-like text from gibberish") {
    import graft.operators.NgramLm
    val sp = TestSpark.spark
    import sp.implicits._
    val docs = sp.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val model = NgramLm.train(docs, "text")
    val sample = docs.select($"text").as[String].head()
    val real = model.bitsPerByte(sample)
    val gibberish = model.bitsPerByte("qxzj wvkq zzxw jqvx kqzz xwjq vxkq")
    assert(real < gibberish, s"real=$real gibberish=$gibberish")
    // shuffled version of the SAME bytes scores worse than the original
    val shuffled = new String(sample.toCharArray.reverse)
    assert(real < model.bitsPerByte(shuffled))
    // short-text fallback: uniform 8 bits/byte
    assert(model.bitsPerByte("ab") == 8.0)
    // scoring column runs distributed and is finite everywhere
    val scores = docs.select(NgramLm.bitsPerByteCol($"text", model).as("s"))
      .as[Double].collect()
    assert(scores.forall(s => s > 0 && s < 8.5))
    // training is deterministic (tie-break on key)
    val model2 = NgramLm.train(docs, "text")
    assert(model.bitsPerByte(sample) == model2.bitsPerByte(sample))
  }

  test("NgramLm: single-pass context table is exact vs brute force") {
    import graft.operators.NgramLm
    val sp = TestSpark.spark
    import sp.implicits._
    // the context table is now re-aggregated from the grouped trigram
    // counts (one corpus scan) — must equal per-context totals computed
    // directly from the raw bytes
    val texts = Seq("abcabcabc", "the cat sat", "aaaa", "xy")
    val model = NgramLm.train(texts.toDF("text"), "text", topK = 1000)
    val brute = new Array[Long](65536)
    texts.foreach { t =>
      val b = t.getBytes("UTF-8")
      var i = 2
      while (i < b.length) {
        brute(((b(i - 2) & 0xFF) << 8) | (b(i - 1) & 0xFF)) += 1
        i += 1
      }
    }
    assert(model.ctxCounts.toSeq == brute.toSeq)
    // with topK covering everything, trigram counts are exact too
    val abc = (((('a'.toInt << 8) | 'b'.toInt) << 8) | 'c'.toInt)
    assert(model.counts.get(Integer.valueOf(abc)).longValue() == 3L)
  }
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("language id on crafted fixtures") {
    assert(TextAnalytics.detectLanguage(
      "the cat sat on the mat and it was happy with this") == "en")
    assert(TextAnalytics.detectLanguage(
      "der Hund und die Katze sind nicht auf dem Tisch") == "de")
    assert(TextAnalytics.detectLanguage(
      "le chat est dans la maison avec les enfants") == "fr")
    assert(TextAnalytics.detectLanguage(
      "el perro y la casa son un lugar para los amigos") == "es")
    assert(TextAnalytics.detectLanguage("这是一个中文句子的测试文本") == "zh")
    assert(TextAnalytics.detectLanguage("xyzzy plugh quux") == "und")
    assert(TextAnalytics.detectLanguage("") == "und")
    assert(TextAnalytics.detectLanguage(null) == "und")
  }

  test("token counts: whitespace vs bpe-ish") {
    val df = Seq("hello world, it's 2024!").toDF("text")
    val (ws, bpe) = df.select(
      TextAnalytics.tokenCountWhitespace($"text"),
      TextAnalytics.tokenCountBpe($"text")).as[(Long, Long)].head()
    assert(ws == 4)
    // hello | world | , | it | ' | s | 2024 | !
    assert(bpe == 8)
  }

  test("quality score in [0,1]; clean prose scores above junk") {
    val df = Seq(
      "The quick brown fox jumps over the lazy dog and runs to the forest in the morning light.",
      "@@@@ #### $$$$ %%%% ^^^^ &&&& **** (((( ))))").toDF("text")
    val scores = df.select(TextAnalytics.qualityScore($"text")).as[Double].collect()
    assert(scores.forall(s => s >= 0.0 && s <= 1.0))
    assert(scores(0) > scores(1))
  }

  test("fingerprint: whitespace/case-insensitive, content-sensitive") {
    val df = Seq(
      ("a", "Hello   World"), ("b", "hello world"), ("c", "hello worlds")
    ).toDF("id", "text")
    val fps = df.select($"id", TextAnalytics.fingerprint($"text")).as[(String, Long)]
      .collect().toMap
    assert(fps("a") == fps("b"))
    assert(fps("a") != fps("c"))
  }

  test("gopherVerdict: each rule fires on its crafted fixture, in order") {
    val longWords = ("w " * 60).trim // 60 one-char words -> meanLen 1 < 3
    val fixtures = Seq(
      ("short doc", "too_few_words"),
      (("word " * 200000).trim, "too_many_words"),
      (longWords, "word_length"),
      // meanLen = 15 alpha chars / 4 words = 3.75 (ok); symbols/words = 1.0
      (("#### wordy words here ") * 30, "symbol_ratio"),
      // meanLen = 13/4 = 3.25 (ok); alpha tokens 2/4 = 0.5 < 0.6
      (("12345 6789 wordylong here ") * 30, "non_alpha"),
      (("clean prose with ordinary words " * 10).trim, "keep"))
    val got = fixtures.map(_._1).zipWithIndex.map { case (t, i) => (i, t) }
      .toDF("id", "text")
      .withColumn("v", TextAnalytics.gopherVerdict($"text"))
      .orderBy($"id").select("v").as[String].collect().toSeq
    assert(got == fixtures.map(_._2), s"got $got")
  }

  test("redactPii scrubs emails and urls; span count matches") {
    val df = Seq(
      ("a", "reach me at jane.doe+x@corp.example.org or https://a.b/c?d=1 thanks"),
      ("b", "no pii here at all")
    ).toDF("id", "text")
    val got = df.select($"id", TextAnalytics.redactPii($"text").as("r"),
        TextAnalytics.piiSpanCount($"text").as("n"))
      .as[(String, String, Long)].collect().sortBy(_._1)
    assert(got(0)._2 == "reach me at [EMAIL] or [URL] thanks" && got(0)._3 == 2L)
    assert(got(1)._2 == "no pii here at all" && got(1)._3 == 0L)
  }

  test("tfidfTopK: hand-computed scores on a 4-doc fixture") {
    // N=4; df(spark)=2 (docs 0,1), df(join)=1 (doc 0 only)
    val docs = Seq(
      (0L, "spark spark join join"), // 2*4/2 + 2*4/1 = 12.0
      (1L, "spark other words"), //     1*4/2         =  2.0
      (2L, "words alone"), // no query term -> absent from result
      (3L, "nothing relevant here")
    ).toDF("doc_id", "text")
    val got = TextAnalytics.tfidfTopK(docs, "doc_id", "text", Seq("spark", "join"), k = 10)
      .as[(Long, Double)].collect().toSeq
    assert(got == Seq((0L, 12.0), (1L, 2.0)))
  }

  test("bm25TopK: closed-form scores on a 4-doc fixture; saturation orders below raw tf") {
    // N=4, dl = (4, 3, 2, 3), avgdl = 12/4 = 3
    // df(spark)=2, df(join)=1
    val docs = Seq(
      (0L, "spark spark join join"),
      (1L, "spark other words"),
      (2L, "words alone"),
      (3L, "nothing relevant here")
    ).toDF("doc_id", "text")
    val (k1, b) = (1.2, 0.75)
    val n = 4.0
    val avgdl = 12.0 / 4.0
    def idf(dfq: Double) = math.log((n - dfq + 0.5) / (dfq + 0.5) + 1.0)
    def sat(tf: Double, dl: Double) =
      tf * (k1 + 1.0) / (tf + k1 * ((1.0 - b) + b * dl / avgdl))
    val exp0 = idf(2.0) * sat(2.0, 4.0) + idf(1.0) * sat(2.0, 4.0)
    val exp1 = idf(2.0) * sat(1.0, 3.0)
    val got = TextAnalytics.bm25TopK(docs, "doc_id", "text",
        Seq("spark", "join"), k = 10)
      .as[(Long, Double)].collect().toSeq
    // same-JVM ln + identical op order -> exact equality, not approx
    assert(got == Seq((0L, exp0), (1L, exp1)))
    // the saturation property tf-idf lacks: a doc spamming one term 10x
    // must NOT outscore a doc matching two distinct terms once each
    val spam = Seq(
      (0L, "spark spark spark spark spark spark spark spark spark spark"),
      (1L, "spark join also has some other words here to pad"),
      (2L, "unrelated filler text"),
      (3L, "more unrelated filler")
    ).toDF("doc_id", "text")
    val ranked = TextAnalytics.bm25TopK(spam, "doc_id", "text",
      Seq("spark", "join"), k = 2).as[(Long, Double)].collect().toSeq
    assert(ranked.head._1 == 1L,
      s"two distinct terms must beat a 10x single-term spam doc: $ranked")
    // plan shape: the top-k must run as TakeOrderedAndProject (scan +
    // per-partition heaps), never a global sort, and df/N/avgdl join in
    // as broadcasts
    val plan = TextAnalytics.bm25TopK(docs, "doc_id", "text",
      Seq("spark", "join"), k = 10).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"top-k not heap-planned:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"df/stats must broadcast:\n$plan")
  }

  test("tfidf/bm25 terms contract: duplicates and uppercase rejected; 32 terms work") {
    val docs = Seq((0L, "a b"), (1L, "b c")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      TextAnalytics.tfidfTopK(docs, "doc_id", "text", Seq("a", "a"), k = 5)
    }
    intercept[IllegalArgumentException] {
      TextAnalytics.bm25TopK(docs, "doc_id", "text", Seq("Spark"), k = 5)
    }
    intercept[IllegalArgumentException] {
      TextAnalytics.tfidfTopK(docs, "doc_id", "text", Nil, k = 5)
    }
    // the old one-column-per-term formulation capped queries at 8 terms;
    // the fold lifts that — 32 distinct terms, scores checked against a
    // driver-side reference that sums per-term tf*N/df in the QUERY's
    // term order over present terms only (exactly the fold's sequence,
    // so equality is exact, not approximate)
    val terms = (0 until 32).map(i => f"term$i%02d")
    val fixture = Seq(
      (0L, (0 until 32).map(i => f"term$i%02d").mkString(" ")), // every term once
      (1L, "term00 term00 term05 term31 filler"),
      (2L, "term31 other words entirely"),
      (3L, "no query words at all")
    ).toDF("doc_id", "text")
    val toks: Map[Long, Seq[String]] = Map(
      0L -> (0 until 32).map(i => f"term$i%02d"),
      1L -> Seq("term00", "term00", "term05", "term31"),
      2L -> Seq("term31"))
    val n = 4.0
    def dfreq(t: String) = toks.values.count(_.contains(t)).toDouble
    def expScore(id: Long) = terms.foldLeft(0.0) { (acc, t) =>
      val tf = toks(id).count(_ == t).toDouble
      if (tf == 0.0) acc else acc + tf * n / dfreq(t)
    }
    val got = TextAnalytics.tfidfTopK(fixture, "doc_id", "text", terms, k = 10)
      .as[(Long, Double)].collect().toMap
    assert(got == Map(0L -> expScore(0L), 1L -> expScore(1L), 2L -> expScore(2L)))
    // bm25 at 32 terms runs and ranks the all-term doc first
    val bm = TextAnalytics.bm25TopK(fixture, "doc_id", "text", terms, k = 10)
      .as[(Long, Double)].collect().toSeq
    assert(bm.head._1 == 0L && bm.size == 3)
  }

  test("decontaminate: docs sharing an n-gram with eval drop; short docs survive") {
    val train = Seq(
      (0L, "the quick brown fox jumps over the dog"), // shares "quick brown fox"
      (1L, "completely unrelated training text here"),
      (2L, "quick brown"), // contains eval WORDS but no full trigram (2 tokens)
      (3L, "brown fox quick") // same words, different order -> no shared trigram
    ).toDF("doc_id", "text")
    val ev = Seq("benchmark asks about the quick brown fox story")
      .toDF("text")
    val kept = TextAnalytics.decontaminate(train, "doc_id", "text", ev, "text", n = 3)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 2L, 3L))
    // n larger than every doc: nothing can match, everything survives
    val all = TextAnalytics.decontaminate(train, "doc_id", "text", ev, "text", n = 50)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(all == Seq(0L, 1L, 2L, 3L))
    // the train side must not shuffle its payload: the only exchanges
    // feed the contaminated-id distinct and the final anti-join's id set
    val plan = TextAnalytics.decontaminate(train, "doc_id", "text", ev, "text", n = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"eval grams must broadcast:\n$plan")
  }

  test("decontaminate: hashed gram carrier matches the string carrier on the gate fixture") {
    // the q118 gate shape: documents vs the every-83rd-doc eval subset
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val ev = docs.filter($"doc_id" % 83 === 0).select($"text")
    val hashed = TextAnalytics.decontaminate(docs, "doc_id", "text", ev, "text", n = 8)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    val strings = TextAnalytics.decontaminate(docs, "doc_id", "text", ev, "text",
        n = 8, hashGrams = false)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(hashed == strings, "the two carriers must keep identical doc sets")
    assert(hashed.nonEmpty && hashed.size < docs.count(),
      "fixture exercises both kept and dropped docs")
  }

  test("decontaminateFuzzy: near-dups of eval docs drop, rewordings and fresh docs survive") {
    val evalText = "the quick brown fox jumps over the lazy dog near the quiet river bank at dawn today"
    val train = Seq(
      (0L, evalText), // exact twin -> drop
      (1L, "a " + evalText), // near-dup (high trigram overlap) -> drop
      (2L, "completely unrelated training text about catalyst plans and physical operators here"),
      (3L, evalText.split(" ").reverse.mkString(" ")), // same words reversed: no shared trigrams
      (4L, null: String) // null text is nobody's duplicate
    ).toDF("doc_id", "text")
    val ev = Seq(evalText).toDF("text")
    val kept = TextAnalytics.decontaminateFuzzy(train, "doc_id", "text", ev, "text")
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(2L, 3L, 4L))
    // train rows come back unchanged (columns intact, no helper cols)
    val cols = TextAnalytics.decontaminateFuzzy(train, "doc_id", "text", ev, "text").columns.toSeq
    assert(cols == Seq("doc_id", "text"))
  }

  test("decontaminateSemantic: embedding near-dups of eval drop; orthogonal, null and mismatched rows survive") {
    val ev = Seq(Tuple1(Array(1.0, 0.0, 0.0)), Tuple1(Array(0.0, 1.0, 0.0)))
      .toDF("ev")
    val train = Seq(
      (java.lang.Long.valueOf(1L), Array(1.0, 0.0, 0.0)),         // exact copy of eval 0 -> drop
      (java.lang.Long.valueOf(2L), Array(0.98, 0.1, 0.05)),       // near eval 0 (cos ~0.99) -> drop
      (java.lang.Long.valueOf(3L), Array(0.0, 0.0, 1.0)),         // orthogonal -> keep
      (java.lang.Long.valueOf(4L), null: Array[Double]),          // null vector -> keep
      (java.lang.Long.valueOf(5L), Array(1.0, 0.0)),              // dim mismatch -> keep
      (null: java.lang.Long, Array(1.0, 0.0, 0.0))                // null id -> keep
    ).toDF("id", "v")
    val kept = TextAnalytics.decontaminateSemantic(train, "id", "v", ev, "ev",
        threshold = 0.9)
      .select($"id").collect().map(r => Option(r.get(0)).map(_.toString).orNull)
    assert(kept.toSet == Set("3", "4", "5", null))
    // empty eval: everything survives
    assert(TextAnalytics.decontaminateSemantic(train, "id", "v",
      ev.limit(0), "ev", threshold = 0.9).count() == 6)
  }

  test("rrfFuse: fused score sums reciprocal ranks, missing list contributes 0") {
    val a = Seq((10L, 1), (20L, 2)).toDF("id", "rank")
    val b = Seq((20L, 1), (30L, 2)).toDF("id", "rank")
    val got = TextAnalytics.rrfFuse(a, b, "id", "rank", c = 60, k = 10)
      .as[(Long, Double)].collect().toMap
    assert(got(20L) == 1.0 / 62 + 1.0 / 61)
    assert(got(10L) == 1.0 / 61 && got(30L) == 1.0 / 62)
    // ordering: 20 (both lists) first
    val first = TextAnalytics.rrfFuse(a, b, "id", "rank").as[(Long, Double)].head()
    assert(first._1 == 20L)
  }

  test("compressionRatio: repetition compresses, prose does not; edges safe") {
    val rows = Seq(
      (1L, "the quick brown fox jumps over the lazy dog while seventeen jackdaws " +
        "inspect quartz obelisks beside the frozen harbor at midnight"),
      (2L, "spam spam spam " * 50),
      (3L, ""),
      (4L, null.asInstanceOf[String])).toDF("id", "text")
    val got = rows.select($"id", TextAnalytics.compressionRatio($"text").as("r"))
      .as[(Long, Double)].collect().toMap
    assert(got(2L) < got(1L) - 0.2, s"repetition must compress far better: $got")
    assert(got(1L) > 0.3 && got(1L) <= 1.1)
    assert(got(3L) == 1.0 && got(4L) == 1.0, "empty/null -> neutral 1.0")
    // deterministic across evaluations
    val again = rows.select($"id", TextAnalytics.compressionRatio($"text").as("r"))
      .as[(Long, Double)].collect().toMap
    assert(again == got)
  }
  test("novelty score: identical doc scores 0, disjoint scores 1, mix exact; short docs excluded; hash carrier agrees") {
    import graft.operators.TextAnalytics
    val ref = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),      // all trigrams seen -> 0
      (2L, "zeta eta theta iota kappa"),           // none seen -> 1
      // trigrams: [alpha beta gamma, beta gamma zeta, gamma zeta eta]:
      // first seen, other two novel -> 2/3
      (3L, "alpha beta gamma zeta eta"),
      (4L, "two words")                            // < n tokens -> no row
    ).toDF("doc_id", "text")
    def run(hash: Boolean) =
      TextAnalytics.noveltyScore(docs, "doc_id", "text", ref, "text",
          n = 3, hashGrams = hash)
        .select($"doc_id", $"n_grams", $"n_novel")
        .as[(Long, Long, Long)].collect().toSet
    val expect = Set((1L, 3L, 0L), (2L, 3L, 3L), (3L, 3L, 2L))
    assert(run(hash = false) == expect)
    assert(run(hash = true) == expect) // 8-byte carrier, same verdicts
    val nv = TextAnalytics.noveltyScore(docs, "doc_id", "text", ref, "text", 3)
      .select($"doc_id", $"novelty").as[(Long, Double)].collect().toMap
    assert(nv(1L) == 0.0 && nv(2L) == 1.0 && nv(3L) == 2.0 / 3.0)
  }

  test("bm25f: single body field degenerates to bm25; title weight promotes; pooled saturation beats naive sum") {
    val sp = TestSpark.spark
    import sp.implicits._
    val docs = Seq(
      (1L, "cat dog", "filler words here today"),
      (2L, "other title", "cat cat dog filler pad"),
      (3L, "cat here", "dog cat pad pad pad pad"),
      (4L, "nothing", "relevant never matches"))
      .toDF("doc_id", "title", "body")
    // one field at weight 1, b matching -> bm25 on that field up to the
    // constant (k1+1) numerator bm25f's saturation omits (idf·tf̃/(k1+tf̃)
    // vs idf·tf(k1+1)/(tf+k1·B) — same math scaled by 2.2), so the
    // RANKING is identical and values agree to the last bits of the
    // rescale
    val f1 = TextAnalytics.bm25fTopK(docs, "doc_id",
        Seq(("body", 1.0, 0.75)), Seq("cat", "dog"), k = 10)
      .as[(Long, Double)].collect().toMap
    val plain = TextAnalytics.bm25TopK(docs, "doc_id", "body",
        Seq("cat", "dog"), k = 10)
      .as[(Long, Double)].collect().toMap
    assert(f1.keySet == plain.keySet)
    f1.foreach { case (id, s) =>
      assert(math.abs(s * 2.2 - plain(id)) <= 1e-12 * plain(id),
        s"doc $id: bm25f $s * 2.2 != bm25 ${plain(id)}")
    }
    // title hits outrank body-only hits under the title weight
    val got = TextAnalytics.bm25fTopK(docs, "doc_id",
        Seq(("title", 3.0, 0.75), ("body", 1.0, 0.75)),
        Seq("cat", "dog"), k = 10)
      .as[(Long, Double)].collect().toSeq
    assert(got.head._1 == 1L, s"title match must lead: $got")
    assert(!got.exists(_._1 == 4L))
    // weights pool INSIDE the saturation: the two-field score is less
    // than the sum of the independent per-field bm25f scores (joint
    // saturation — the defining BM25F property vs naive score sums)
    val tOnly = TextAnalytics.bm25fTopK(docs, "doc_id",
        Seq(("title", 3.0, 0.75)), Seq("cat"), k = 10)
      .as[(Long, Double)].collect().toMap
    val bOnly = TextAnalytics.bm25fTopK(docs, "doc_id",
        Seq(("body", 1.0, 0.75)), Seq("cat"), k = 10)
      .as[(Long, Double)].collect().toMap
    val both = TextAnalytics.bm25fTopK(docs, "doc_id",
        Seq(("title", 3.0, 0.75), ("body", 1.0, 0.75)), Seq("cat"), k = 10)
      .as[(Long, Double)].collect().toMap
    assert(both(3L) < tOnly(3L) + bOnly(3L),
      s"pooled saturation must undercut the naive per-field sum: ${both(3L)}")
    // (note: both > max(single) need NOT hold — df counts docs matching
    // in ANY included field, so adding a field can shrink idf)
    // a doc matching in only one field still scores under the pool
    assert(both.contains(2L) && both.contains(1L) && both.contains(3L))
  }

  test("mmrRerank: greedy picks trade relevance against max-sim-to-selected; ties to smaller id; λ=1 is pure relevance") {
    val sp = TestSpark.spark
    import sp.implicits._
    // docs 1 and 2 near-identical (high mutual Jaccard), doc 3 distinct
    // but lower relevance: pure relevance picks (1, 2, 3); MMR at 0.5
    // must demote 2 behind 3 after picking 1
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma epsilon"),
      (3L, "zeta eta theta iota"),
      (4L, "alpha beta gamma delta zz"))
      .toDF("doc_id", "text")
    val pool = Seq((1L, 1000000L), (2L, 990000L), (3L, 500000L),
      (4L, 980000L)).toDF("doc_id", "rel_u")
    def picks(lam: Double) = TextAnalytics.mmrRerank(pool, docs, "doc_id",
        "text", "rel_u", k = 3, lambda = lam)
      .orderBy($"pick").select($"doc_id").as[Long].collect().toSeq
    assert(picks(1.0) == Seq(1L, 2L, 4L), "λ=1 must be pure relevance order")
    // λ=0.5: pick 1 (top rel); then 2 and 4 are heavily penalized
    // (Jaccard 3/5 and 4/5 vs doc 1) while 3 is disjoint (sim 0):
    // 0.5*0.99-0.5*0.6=0.195 / 0.5*0.98-0.5*0.8=0.09 / 0.5*0.5-0=0.25
    assert(picks(0.5) == Seq(1L, 3L, 2L), s"got ${picks(0.5)}")
    // hand-check the third pick: after {1,3}, 2 scores 0.195 (max sim
    // is still vs 1) and 4 scores 0.09 -> 2 wins
    intercept[IllegalArgumentException] {
      TextAnalytics.mmrRerank(pool, docs, "doc_id", "text", "rel_u", 0)
    }
  }

  test("diversifiedTopK: per-group cap holds, global order otherwise, integer tiebreaks") {
    val sp = TestSpark.spark
    import sp.implicits._
    val scored = Seq(
      (1L, "a", 100L), (2L, "a", 90L), (3L, "a", 80L),
      (4L, "b", 85L), (5L, "b", 70L), (6L, "c", 60L), (7L, "c", 60L))
      .toDF("doc_id", "source", "score_u")
    val got = TextAnalytics.diversifiedTopK(scored, "doc_id", "source",
        "score_u", perGroup = 2, k = 5)
      .select($"doc_id").as[Long].collect().toSeq
    // doc 3 (third of source a) is capped out; tie 60/60 breaks to id 6
    assert(got == Seq(1L, 2L, 4L, 5L, 6L), s"got $got")
    intercept[IllegalArgumentException] {
      TextAnalytics.diversifiedTopK(scored, "doc_id", "source", "score_u", 0, 5)
    }
  }

  test("spellCorrect: (dist, df desc, term) ranking, length band, exact match wins, refusals") {
    val sp = TestSpark.spark
    import sp.implicits._
    val docs = Seq(
      (1L, "cat hat bat cart"), (2L, "cat hat chart"), (3L, "cat carts"))
      .toDF("doc_id", "text")
    def corr(q: String, d: Int = 2, k: Int = 5) =
      TextAnalytics.spellCorrect(docs, "doc_id", "text", q, d, k)
        .as[(String, Long, Int)].collect().toSeq
    // 'cst': cat at dist 1; hat/bat/cart at dist 2 rank by df desc
    // (hat df2 first), then term asc breaks the df-1 tie (bat < cart)
    assert(corr("cst") == Seq(("cat", 3L, 1), ("hat", 2L, 2),
      ("bat", 1L, 2), ("cart", 1L, 2)))
    // an exact vocabulary hit ranks first at distance 0
    assert(corr("cart").head == (("cart", 1L, 0)))
    // length band: maxDist 1 rejects terms 2+ away in LENGTH before
    // levenshtein runs ('carts' is len 5, query len 3 -> out of band)
    assert(corr("cat", d = 1).map(_._1).toSet == Set("cat", "hat", "bat", "cart"))
    // k cuts after the full sort
    assert(corr("cst", k = 2) == Seq(("cat", 3L, 1), ("hat", 2L, 2)))
    intercept[IllegalArgumentException] {
      TextAnalytics.spellCorrect(docs, "doc_id", "text", "")
    }
  }

  test("prfExpandTopK: expansion picks feedback co-occurring terms; final equals bm25 over the expanded set") {
    val sp = TestSpark.spark
    import sp.implicits._
    // seed 'alpha' retrieves docs 1-3 (feedback); 'omega' co-occurs in
    // all three -> the expansion term; doc 4 has omega but no alpha and
    // must now surface in the final ranking
    val docs = Seq(
      (1L, "alpha omega x"), (2L, "alpha omega y"), (3L, "alpha omega z"),
      (4L, "omega omega w"), (5L, "unrelated text"))
      .toDF("doc_id", "text")
    val got = TextAnalytics.prfExpandTopK(docs, "doc_id", "text",
        Seq("alpha"), fbDocs = 3, expand = 1, k = 5)
      .as[(Long, Double)].collect().toSeq
    // the expansion must reach doc 4 (no seed term at all)
    assert(got.exists(_._1 == 4L), s"expansion must surface doc 4: $got")
    // final == bm25 over the (known) expanded term set, folded sorted —
    // proves the expansion selected exactly {omega} and the fold order
    val expect = TextAnalytics.bm25Scores(docs, "doc_id", "text",
        Seq("alpha", "omega"))
      .orderBy(floor($"score" * 1000000.0).cast("long").desc, $"doc_id")
      .limit(5).as[(Long, Double)].collect().toSeq
    assert(got == expect, s"got $got expected $expect")
  }
}
