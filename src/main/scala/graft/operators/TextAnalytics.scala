package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines (BASELINE north star):
  * language-ID, quality scoring, token counting, fingerprinting.
  *
  * Everything that can be a built-in column expression IS one (codegen,
  * pushdown-friendly); only language-ID needs a UDF (per-row profile
  * scoring). All deterministic, no models, no egress.
  */
object TextAnalytics {

  // ---------- language identification (n-gram/stopword heuristic) ----------

  /** Tiny built-in stopword profiles (public common-word lists). */
  private[graft] val profiles: Map[String, Set[String]] = Map(
    "en" -> Set("the", "and", "of", "to", "in", "is", "it", "that", "was", "for",
      "with", "are", "this", "not", "you"),
    "de" -> Set("der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit",
      "auf", "für", "von", "dem", "den", "zu"),
    "fr" -> Set("le", "la", "les", "et", "est", "un", "une", "des", "du", "dans",
      "pour", "que", "qui", "pas", "avec"),
    "es" -> Set("el", "la", "los", "las", "y", "es", "un", "una", "de", "en",
      "por", "que", "no", "con", "para"))

  /** Heuristic language id: CJK-ratio shortcut for zh, else best stopword
    * hit-rate; "und" (undetermined) when nothing scores. */
  private[graft] def detectLanguage(text: String): String = {
    if (text == null || text.isEmpty) return "und"
    var cjk = 0
    var total = 0
    text.foreach { c =>
      if (!c.isWhitespace) {
        total += 1
        if (Character.UnicodeScript.of(c) == Character.UnicodeScript.HAN) cjk += 1
      }
    }
    if (total > 0 && cjk.toDouble / total > 0.3) return "zh"
    val toks = text.toLowerCase.split("[^\\p{L}0-9]+").filter(_.nonEmpty)
    if (toks.isEmpty) return "und"
    val best = profiles.view.mapValues(sw => toks.count(sw.contains)).toSeq
      .sortBy { case (l, hits) => (-hits, l) }.head
    if (best._2 == 0) "und" else best._1
  }

  def languageId(text: Column): Column = {
    val f = udf((t: String) => detectLanguage(t))
    f(text)
  }

  // ---------- token counting (pure column expressions) ----------

  /** Whitespace tokens (0 for empty/whitespace-only text — counting
    * non-space runs avoids split("")'s spurious single empty token). */
  def tokenCountWhitespace(text: Column): Column =
    regexp_count(text, lit("\\S+")).cast("long")

  /** BPE-ish pre-tokenizer count: letter runs, digit runs, single
    * punctuation marks (the GPT-2-style pre-split shape). */
  def tokenCountBpe(text: Column): Column =
    regexp_count(text, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]")).cast("long")

  // ---------- quality scoring (pure column expressions) ----------

  /** Heuristic quality in [0,1]: mean of four exact-int-derived ratios —
    * alpha coverage, non-punct ratio, length sweet-spot, stopword
    * presence. Deterministic double math (division of exact ints, fixed
    * combination order) — oracle-reproducible in any engine. */
  def qualityScore(text: Column): Column = {
    val nChars = length(text).cast("double")
    val nAlpha = (length(text) - length(regexp_replace(text, "[a-zA-Z]", ""))).cast("double")
    val nPunct = (length(text) - length(regexp_replace(text, "[.,;:!?]", ""))).cast("double")
    val nTok = tokenCountBpe(text).cast("double")
    val nStop = regexp_count(lower(text),
      lit("\\b(the|and|of|to|in|is|der|die|und|le|la|les|el|los)\\b")).cast("double")
    val alphaRatio = when(nChars > 0, nAlpha / nChars).otherwise(0.0)
    val punctOk = when(nChars > 0, lit(1.0) - nPunct / nChars).otherwise(0.0)
    val lenOk = when(nChars >= 50 && nChars <= 10000, 1.0).otherwise(0.5)
    val stopOk = when(nTok > 0, least(nStop / nTok * 10.0, lit(1.0))).otherwise(0.0)
    (alphaRatio + punctOk + lenOk + stopOk) / 4.0
  }

  // ---------- quality filtering (Gopher-style rule battery) ----------

  /** Rule-based document filter in the Gopher/Dolma style: each rule is
    * an exact integer/ratio predicate over the text, the verdict is the
    * FIRST failing rule (fixed order) or "keep". All built-in column
    * expressions — codegen'd, no UDF, trivially pushable — and every
    * ratio divides exact ints, so any engine reproduces the verdicts.
    *
    * Rules (fixed order): word count in [minWords, maxWords]; mean word
    * length in [3, 10]; symbol-to-word ratio <= 0.1 (# and … only, the
    * classic boilerplate markers); alphabetic-word ratio >= 0.6.
    *
    * @return input plus `quality_verdict: string`. */
  def gopherVerdict(text: Column, minWords: Int = 50, maxWords: Int = 100000): Column = {
    // explicit whitespace class, NOT \s: Java's \s includes \x0B,
    // RE2's does not — the explicit class means every engine tokenizes
    // identically
    val ws = " \\t\\n\\f\\r"
    val words = regexp_count(text, lit(s"[^$ws]+")).cast("long")
    // alphabetic chars / words = mean word length proxy on exact ints
    val alphaChars = (length(text) - length(regexp_replace(text, "[A-Za-z]", ""))).cast("long")
    val symbols = (length(text) - length(regexp_replace(text, "[#…]", ""))).cast("long")
    // whitespace-split tokens that are fully alphabetic — split+filter
    // instead of lookaround so RE2-based engines state the same rule
    val alphaWords = size(filter(split(text, s"[$ws]+"), x => x.rlike("^[A-Za-z]+$"))).cast("long")
    val meanLen = alphaChars.cast("double") / words.cast("double")
    when(words < minWords, "too_few_words")
      .when(words > maxWords, "too_many_words")
      .when(meanLen < 3.0 || meanLen > 10.0, "word_length")
      .when(symbols.cast("double") / words.cast("double") > 0.1, "symbol_ratio")
      .when(alphaWords.cast("double") / words.cast("double") < 0.6, "non_alpha")
      .otherwise("keep")
  }

  // ---------- compression-ratio quality signal ----------

  /** DEFLATE compressed size of the UTF-8 text (JDK Deflater, fixed
    * level, no dictionary) — the compression-ratio filter CCNet-style
    * pipelines run: highly repetitive or templated documents compress
    * far below natural prose, and `compressed/raw` is a cheap,
    * model-free repetition signal orthogonal to the n-gram stats
    * ([[repetitionStats]]-class rules catch local loops; deflate
    * catches page-scale templating). Deterministic for a fixed JDK
    * deflate implementation — graded through CONTRACT rows (the ratio
    * ORDERING between a doc and its self-repeated variant), never by
    * comparing raw compressed bytes across engines. */
  def deflateSize(text: Column): Column = {
    val f = udf { (s: String) =>
      if (s == null) 0L
      else {
        val d = new java.util.zip.Deflater(6, false)
        d.setInput(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        d.finish()
        val buf = new Array[Byte](8192)
        var total = 0L
        while (!d.finished()) total += d.deflate(buf)
        d.end()
        total
      }
    }
    f(text)
  }

  /** compressed/raw byte ratio in [0, ~1.1]; null/empty text -> 1.0
    * (no evidence of repetition). */
  def compressionRatio(text: Column): Column =
    when(length(text).isNull || length(text) === 0, lit(1.0))
      .otherwise(deflateSize(text).cast("double") /
        octet_length(text).cast("double"))

  // ---------- PII-style redaction ----------

  /** Scrub email addresses and bare URLs (the redaction pass every
    * public training corpus runs). Patterns restricted to syntax shared
    * by Java regex and RE2 (no backrefs/lookaround) so oracle engines
    * agree byte-for-byte. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlPattern = "https?://[A-Za-z0-9./_%+#?&=-]+"

  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailPattern, "[EMAIL]"),
      UrlPattern, "[URL]")

  /** How many spans [[redactPii]] would scrub. */
  def piiSpanCount(text: Column): Column =
    (regexp_count(text, lit(EmailPattern)) + regexp_count(text, lit(UrlPattern)))
      .cast("long")

  /** Top-k token CO-OCCURRENCE with lift — the collocation primitive
    * ("which terms appear together more than chance"): for unordered
    * token pairs (a < b) sharing a document, report the doc-level
    * joint count and lift = n_ab·N / (n_a·n_b), ranked by joint count.
    *
    * Exactness: all counts are integers; lift is ONE double expression
    * over exact operands in a fixed shape, so rankings and values
    * reproduce across engines (the tfidf discipline — a log-PMI would
    * be libm-rounding-dependent, lift carries the same ordering).
    *
    * Scale shape: the df BAND [minDf, maxDf] is the valve — stopwords
    * (huge df) would explode the pair join quadratically and hapax
    * terms add noise, so both are dropped BEFORE pairing; the pair
    * join is postings-vs-postings per doc over the banded vocabulary
    * only, and per-doc cost is (banded tokens per doc)². df computes
    * once (wordcount shape); top-k is TakeOrderedAndProject. */
  def cooccurrenceTopK(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, minDf: Long, maxDf: Long, k: Int)
      : org.apache.spark.sql.DataFrame = {
    require(minDf >= 1 && maxDf >= minDf && k >= 1, "bad parameters")
    val toks = df.select(col(idCol).as("_doc"),
        explode(array_distinct(filter(
          split(lower(col(textCol)), "[^a-z0-9]+"), t => t =!= ""))).as("_t"))
      .localCheckpoint(eager = true) // feeds df counts AND both join legs
    val n = df.select(countDistinct(col(idCol))).head().getLong(0)
    val vocab = toks.groupBy(col("_t"))
      .agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= minDf && col("_df") <= maxDf)
      .localCheckpoint(eager = true)
    val banded = toks.join(broadcast(vocab), "_t")
    val pairs = banded.select(col("_doc"), col("_t").as("a"), col("_df").as("_dfa"))
      .join(banded.select(col("_doc"), col("_t").as("b"), col("_df").as("_dfb")),
        "_doc")
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_ab"), first(col("_dfa")).as("n_a"),
        first(col("_dfb")).as("n_b"))
    pairs
      .withColumn("lift", col("n_ab") * lit(n).cast("double") /
        (col("n_a") * col("n_b")).cast("double"))
      .orderBy(col("n_ab").desc, col("a"), col("b"))
      .limit(k)
  }

  // ---------- lexical (keyword) retrieval ----------

  /** TF-IDF keyword scoring over a document table — the lexical half of
    * hybrid retrieval (the reference's index serves the vector half;
    * a RAG stack pairs it with keyword search, cf. Pinecone hybrid
    * queries `[dep]`).
    *
    * score(d) = Σ_t tf(d,t) · N/df(t), summed over the query terms in a
    * FIXED order — every input to the double math is an exact integer
    * (tf, N, df) and each term contributes one correctly-rounded IEEE
    * division, so any engine reproduces the scores bit-exactly (the
    * oracle-determinism contract; a log-damped idf would not be).
    *
    * Scale shape: one narrow shuffle on (doc, term) for tf (the isin
    * filter drops every non-query term BEFORE the aggregation), df and
    * N broadcast (|terms| rows and 1 row), top-k by orderBy.limit →
    * TakeOrderedAndProject. No UDFs — all codegen'd built-ins.
    *
    * @return (idCol, score) for the `k` highest-scoring docs,
    *         score-descending, ties broken by id. */
  def tfidfTopK(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, terms: Seq[String], k: Int): org.apache.spark.sql.DataFrame = {
    validateTerms(terms)
    val toks = df.select(col(idCol),
      explode(filter(split(lower(col(textCol)), "[^a-z0-9]+"), x => x =!= "")).as("_term"))
      .filter(col("_term").isin(terms: _*))
    val tf = toks.groupBy(col(idCol), col("_term")).agg(count(lit(1)).as("_tf"))
    val dfreq = tf.groupBy(col("_term")).agg(count(lit(1)).as("_df"))
    val n = df.agg(count(lit(1)).as("_n"))
    val per = tf.join(broadcast(dfreq), "_term").crossJoin(broadcast(n))
      .withColumn("_s",
        col("_tf").cast("double") * col("_n").cast("double") / col("_df").cast("double"))
    foldTermScores(per, idCol, terms)
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("score"))
  }

  /** Terms contract shared by [[tfidfTopK]]/[[bm25TopK]]: non-empty,
    * no duplicates (a duplicated term would double-count its score),
    * lowercase (tokens are lowercased before the isin filter, so an
    * uppercase term would silently contribute 0). */
  private[operators] def validateTerms(terms: Seq[String]): Unit = {
    require(terms.nonEmpty, "at least one query term")
    require(terms.distinct.size == terms.size,
      s"duplicate query terms: ${terms.diff(terms.distinct).distinct.mkString(", ")}")
    val upper = terms.filterNot(t => t == t.toLowerCase)
    require(upper.isEmpty,
      s"query terms must be lowercase (tokens are lowercased before matching): ${upper.mkString(", ")}")
  }

  /** Per-doc score from per-(doc, term) `_s` rows, summed in the
    * QUERY's term order regardless of shuffle arrival order: each row
    * is tagged with its term's 1-based position in `terms`, the
    * per-doc (position, s) structs are `array_sort`ed (position is
    * unique per doc — (doc, term) is unique after the tf aggregation
    * and `terms` is distinct — so the sort is total and never consults
    * `_s`), and a left fold adds them. This replaces the previous
    * one-column-per-term formulation, which guaranteed the same fixed
    * order but capped queries at 8 terms; the fold's summation
    * SEQUENCE is identical (absent terms contributed +0.0 at their
    * slot before, and x + 0.0 == x for the non-negative scores both
    * scorers produce, as is the 0.0 fold seed), so scores are
    * bit-identical to the per-column plan for any term count. The fold
    * lambda runs interpreted but touches only its accumulator and
    * element — O(|matched terms|) per doc, no re-evaluated outer
    * expressions (the materialized-token lesson). */
  private[operators] def foldTermScores(per: org.apache.spark.sql.DataFrame, idCol: String,
      terms: Seq[String]): org.apache.spark.sql.DataFrame =
    per.withColumn("_ti", array_position(typedLit(terms), col("_term")))
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("_ti"), col("_s")))).as("_ss"))
      .withColumn("score",
        aggregate(col("_ss"), lit(0.0), (acc, x) => acc + x.getField("_s")))

  /** BM25 top-k — [[tfidfTopK]]'s pruned plan shape with the scorer
    * real hybrid-retrieval stacks default to (Robertson/Lucene
    * saturation + log idf), next to q86's RRF fusion:
    *
    * score(d) = Σ_t ln((N − df + 0.5)/(df + 0.5) + 1) ·
    *            tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * dl (the document's token count) is a per-row expression — no
    * extra shuffle — carried through the (doc, term) aggregation as a
    * grouping key; avgdl is an exact integer Σdl divided by N once
    * (never a double-accumulated AVG, which would be partition-order-
    * dependent). Every arithmetic step is a correctly-rounded IEEE op
    * on identical operands in a fixed order, so the ONLY cross-engine
    * wiggle is ln()'s last ulp (libm log is faithfully-, not
    * correctly-, rounded — measured: ~0.07% of reachable idf
    * arguments differ by 1 ulp between the JVM and DuckDB). The q117
    * gate therefore hashes floor(score·1e6) and orders by it, stable
    * under a 1-ulp wiggle whenever no score sits within ~1e-9 of a
    * discretization boundary (checked for the gate fixture).
    *
    * Scale shape identical to [[tfidfTopK]]: non-query terms dropped
    * BEFORE the aggregation, df/N/avgdl broadcast (|terms| + 1 rows),
    * top-k via orderBy.limit → TakeOrderedAndProject.
    *
    * @return (idCol, score) for the `k` highest-scoring docs,
    *         score-descending, ties broken by id. */
  def bm25TopK(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): org.apache.spark.sql.DataFrame =
    bm25Scores(df, idCol, textCol, terms, k1, b)
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("score"))

  /** The UNCUT (idCol, score) BM25 frame over every doc containing at
    * least one query term — same scorer/shapes/fold order as
    * [[bm25TopK]], but the caller owns the cut. A recall stage feeding
    * a reranker cuts on floor(score·1e6) with an id tiebreak (the q211
    * discipline): a raw-double cut sits exactly on ln()'s last-ulp
    * cross-engine boundary, and one flipped candidate at rank k flips
    * the whole reranked head. */
  def bm25Scores(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    validateTerms(terms)
    val base = df.select(col(idCol),
      filter(split(lower(col(textCol)), "[^a-z0-9]+"), x => x =!= "").as("_toks"))
    val stats = base.agg(sum(size(col("_toks")).cast("long")).as("_sumdl"),
      count(lit(1)).as("_n"))
    val toks = base.select(col(idCol), size(col("_toks")).as("_dl"),
        explode(col("_toks")).as("_term"))
      .filter(col("_term").isin(terms: _*))
    // _dl is functionally dependent on the doc id; keeping it a grouping
    // key avoids a join back to the payload
    val tf = toks.groupBy(col(idCol), col("_dl"), col("_term"))
      .agg(count(lit(1)).as("_tf"))
    val dfreq = tf.groupBy(col("_term")).agg(count(lit(1)).as("_df"))
    val per = tf.join(broadcast(dfreq), "_term").crossJoin(broadcast(stats))
      .withColumn("_avgdl",
        col("_sumdl").cast("double") / col("_n").cast("double"))
      // expression SHAPES below mirror the q117 oracle SQL token for
      // token — cross-engine hash equality needs identical rounding
      // sequences, not just identical math
      .withColumn("_idf",
        log((col("_n").cast("double") - col("_df").cast("double") + lit(0.5)) /
          (col("_df").cast("double") + lit(0.5)) + lit(1.0)))
      .withColumn("_sat",
        col("_tf").cast("double") * lit(k1 + 1.0) /
          (col("_tf").cast("double") +
            lit(k1) * (lit(1.0 - b) +
              lit(b) * col("_dl").cast("double") / col("_avgdl"))))
      .withColumn("_s", col("_idf") * col("_sat"))
    foldTermScores(per, idCol, terms)
      .select(col(idCol), col("score"))
  }

  /** BM25F — the MULTI-FIELD ranking function real search stacks run
    * when documents have structure (title/body/anchor; Zaragoza et al.,
    * CIKM'04 — the "simple BM25 extension" form Lucene/Elastic
    * per-field boosts approximate):
    *
    *   tf̃(t,d) = Σ_f w_f · tf(t,f,d) / ((1 − b_f) + b_f · len_f(d)/avglen_f)
    *   score(d) = Σ_t ln((N − df + 0.5)/(df + 0.5) + 1) · tf̃ / (k1 + tf̃)
    *
    * — field-weighted, per-field length-normalized term counts pooled
    * BEFORE one shared saturation (weights inside the saturation is
    * what distinguishes BM25F from a naive per-field score sum: a term
    * in both title and body saturates jointly instead of double-
    * dipping). df counts docs containing the term in ANY field; avglen
    * is per-field exact-integer Σlen/N. Plan shape is [[bm25TopK]]'s
    * per field — non-query terms drop before aggregation, the field
    * stats broadcast (|fields| rows), the per-(doc,term) pool is one
    * aggregation, the fold is [[foldTermScores]]'s ordered fold — so
    * scores replay bit-for-bit cross-engine.
    *
    * @param fields (textColumn, weight, b) per field */
  def bm25fTopK(df: org.apache.spark.sql.DataFrame, idCol: String,
      fields: Seq[(String, Double, Double)], terms: Seq[String], k: Int,
      k1: Double = 1.2): org.apache.spark.sql.DataFrame = {
    validateTerms(terms)
    require(fields.nonEmpty, "at least one field")
    val spark = df.sparkSession
    import spark.implicits._
    val n = df.select(col(idCol)).count()
    require(n > 0, "empty corpus")
    // per-field (doc, dl, term, tf) with the field tag riding along;
    // field avglen as exact integer sums divided once
    val perField = fields.zipWithIndex.map { case ((c, w, b), fi) =>
      val base = df.select(col(idCol),
        filter(split(lower(col(c)), "[^a-z0-9]+"), x => x =!= "").as("_toks"))
      val sumLen = base.agg(coalesce(sum(size(col("_toks")).cast("long")),
        lit(0L))).head().getLong(0)
      val avg = sumLen.toDouble / n.toDouble
      base.select(col(idCol), size(col("_toks")).as("_dl"),
          explode(col("_toks")).as("_term"))
        .filter(col("_term").isin(terms: _*))
        .groupBy(col(idCol), col("_dl"), col("_term"))
        .agg(count(lit(1)).as("_tf"))
        .select(col(idCol), col("_term"),
          (lit(w) * col("_tf").cast("double") /
            (lit(1.0 - b) + lit(b) * col("_dl").cast("double") / lit(avg)))
            .as("_wtf"),
          lit(fi).as("_fi"))
    }
    // pool the weighted normalized tfs across fields IN FIELD ORDER
    // (the struct sort makes the double additions order-fixed), then
    // df over the pooled rows = docs containing the term in any field
    val pooled = perField.reduce(_ unionByName _)
      .groupBy(col(idCol), col("_term"))
      .agg(array_sort(collect_list(struct(col("_fi"), col("_wtf"))))
        .as("_fs"))
      .withColumn("_tfw",
        aggregate(col("_fs"), lit(0.0), (acc, x) => acc + x.getField("_wtf")))
    val dfreq = pooled.groupBy(col("_term")).agg(count(lit(1)).as("_df"))
    val per = pooled.join(broadcast(dfreq), "_term")
      .withColumn("_idf",
        log((lit(n.toDouble) - col("_df").cast("double") + lit(0.5)) /
          (col("_df").cast("double") + lit(0.5)) + lit(1.0)))
      .withColumn("_s",
        col("_idf") * col("_tfw") / (lit(k1) + col("_tfw")))
    foldTermScores(per, idCol, terms)
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("score"))
  }

  /** QUERY SPELL CORRECTION (r18) — the did-you-mean primitive: rank
    * corpus-vocabulary candidates for a (possibly misspelled) query
    * term by (edit distance asc, document frequency desc, term asc).
    * The vocabulary is the corpus' own distinct tokens with their doc
    * frequency; candidates are LENGTH-BANDED before the distance
    * evaluates (|len − qlen| ≤ maxDist is a necessary condition for
    * levenshtein ≤ maxDist), so at corpus scale the edit distance runs
    * over a narrow vocabulary slice, never the full token set — and
    * the vocabulary itself is a distinct-tokens aggregate, orders of
    * magnitude below corpus size. Distance is Spark's native codegen'd
    * levenshtein; every ranking key is an integer, so the top-k is
    * engine-replayable exactly. */
  def spellCorrect(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, query: String, maxDist: Int = 2,
      k: Int = 5): org.apache.spark.sql.DataFrame = {
    require(query != null && query.nonEmpty, "empty query term")
    require(maxDist >= 0, "maxDist must be >= 0")
    require(k >= 1, "k must be >= 1")
    val q = query.toLowerCase
    df.select(col(idCol),
        explode(array_distinct(filter(split(lower(col(textCol)),
          "[^a-z0-9]+"), t => t =!= ""))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .filter(abs(length(col("term")) - lit(q.length)) <= lit(maxDist))
      .withColumn("dist", levenshtein(col("term"), lit(q)))
      .filter(col("dist") <= lit(maxDist))
      .orderBy(col("dist"), col("df").desc, col("term"))
      .limit(k)
  }

  /** PSEUDO-RELEVANCE-FEEDBACK query expansion (r18, the RM3/Rocchio
    * family): (1) retrieve the top `fbDocs` documents for the seed
    * terms — BM25 cut on the FLOORED score with an id tiebreak, the
    * q198/q211 boundary-stable recall discipline; (2) pick the
    * `expand` strongest expansion terms by presence across the
    * feedback docs ((feedback doc count desc, term asc) — an integer
    * sort, no score arithmetic to drift); (3) re-run BM25 with
    * seeds ∪ expansion folded in SORTED term order, so the final
    * ranking replays bit-for-bit on any engine. Feedback term counting
    * touches `fbDocs` documents' tokens only (a broadcast-sized
    * semi-join), and both retrieval passes keep [[bm25Scores]]'s
    * pruned shape — non-query terms drop before any aggregation. */
  def prfExpandTopK(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, seeds: Seq[String], fbDocs: Int = 10,
      expand: Int = 3, k: Int = 10): org.apache.spark.sql.DataFrame = {
    require(fbDocs >= 1 && expand >= 0 && k >= 1,
      "fbDocs >= 1, expand >= 0, k >= 1 required")
    val seedToks = seeds.map(_.toLowerCase).distinct.sorted
    val fb = bm25Scores(df, idCol, textCol, seedToks)
      .orderBy(floor(col("score") * lit(1000000.0)).cast("long").desc,
        col(idCol))
      .limit(fbDocs)
      .select(col(idCol))
    val expTerms = df.join(fb, idCol)
      .select(explode(array_distinct(filter(split(lower(col(textCol)),
        "[^a-z0-9]+"), t => t =!= ""))).as("term"))
      .filter(!col("term").isin(seedToks: _*))
      .groupBy(col("term")).agg(count(lit(1)).as("_fdf"))
      .orderBy(col("_fdf").desc, col("term"))
      .limit(expand)
      .select(col("term")).collect().map(_.getString(0)).toSeq
    val allTerms = (seedToks ++ expTerms).distinct.sorted
    bm25Scores(df, idCol, textCol, allTerms)
      .orderBy(floor(col("score") * lit(1000000.0)).cast("long").desc,
        col(idCol))
      .limit(k)
  }

  /** MMR — MAXIMAL MARGINAL RELEVANCE rerank (r18; Carbonell &
    * Goldstein, SIGIR'98), the content-based sibling of the per-group
    * cap in [[diversifiedTopK]]: greedily pick
    *
    *   argmax_i  λ · rel(i) − (1 − λ) · max_{j ∈ selected} sim(i, j)
    *
    * so each next result is relevant AND unlike what's already shown.
    * rel is the caller's INTEGER micro-unit retrieval score scaled
    * once by 1e-6; sim is distinct-token Jaccard — both are single
    * integer-ratio divisions and the subtraction is one fixed IEEE
    * sequence, so every score (and therefore every pick) replays
    * bit-for-bit cross-engine; ties break on id. The greedy runs
    * DRIVER-SIDE over the collected candidate pool — deliberately: MMR
    * is a head reranker, the pool is k-bounded by the recall stage
    * (the q198/q211 architecture), and the O(pool²·k) interaction is
    * trivially small next to shipping it through k dependent Spark
    * jobs. The corpus is touched only by the recall stage.
    *
    * @param scored (id, relU integer micro-units) candidate pool
    * @return (id, pick 1-based selection order) — integers only */
  def mmrRerank(scored: org.apache.spark.sql.DataFrame, docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, relCol: String, k: Int,
      lambda: Double = 0.5): org.apache.spark.sql.DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(lambda >= 0.0 && lambda <= 1.0, "lambda in [0, 1]")
    val spark = scored.sparkSession
    import spark.implicits._
    val pool: Array[(Long, Long, Set[String])] = scored
      .join(docs.select(col(idCol), col(textCol)), idCol)
      .select(col(idCol).cast("long"), col(relCol).cast("long"),
        array_distinct(filter(split(lower(col(textCol)), "[^a-z0-9]+"),
          t => t =!= "")))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[String](2).toSet))
      .sortBy(_._1)
    def sim(a: Set[String], b: Set[String]): Double = {
      val u = (a union b).size
      if (u == 0) 0.0 else (a intersect b).size.toDouble / u.toDouble
    }
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    val chosen = scala.collection.mutable.HashSet.empty[Long]
    var pick = 1
    while (pick <= math.min(k, pool.length)) {
      var bestId = -1L
      var bestScore = Double.NegativeInfinity
      pool.foreach { case (id, relU, toks) =>
        if (!chosen.contains(id)) {
          val maxSim =
            if (chosen.isEmpty) 0.0
            else pool.iterator.filter(p => chosen.contains(p._1))
              .map(p => sim(toks, p._3)).max
          val s = lambda * (relU.toDouble / 1000000.0) - (1.0 - lambda) * maxSim
          // strict >: the id-ascending pool order makes ties break to
          // the smaller id, the same total order the oracle replays
          if (s > bestScore) { bestScore = s; bestId = id }
        }
      }
      selected += ((bestId, pick))
      chosen += bestId
      pick += 1
    }
    selected.toSeq.toDF(idCol, "pick")
  }

  /** DIVERSIFIED top-k (r18) — the per-source result cap every search
    * engine applies (at most `perGroup` hits per site/cluster/source in
    * the head): rank within each group by (score desc, id), keep the
    * first `perGroup`, then the global (score desc, id) top-k. Two
    * windows' worth of work: the per-group rank partitions by the
    * group column (groups are many — never a one-task window), the
    * global cut is TakeOrderedAndProject. Pass an INTEGER score (e.g.
    * the floored micro-unit BM25) and the whole selection is
    * engine-replayable exactly. */
  def diversifiedTopK(scored: org.apache.spark.sql.DataFrame, idCol: String,
      groupCol: String, scoreCol: String, perGroup: Int,
      k: Int): org.apache.spark.sql.DataFrame = {
    require(perGroup >= 1 && k >= 1, "perGroup >= 1, k >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col(scoreCol).desc, col(idCol))
    scored.withColumn("_gr", row_number().over(w))
      .filter(col("_gr") <= perGroup)
      .drop("_gr")
      .orderBy(col(scoreCol).desc, col(idCol))
      .limit(k)
  }

  /** Reciprocal-rank fusion of two ranked id lists (hybrid retrieval:
    * lexical ∪ vector). rrf(d) = Σ_list 1/(c + rank_list(d)), missing
    * list ⇒ 0 contribution — rank-only math (integers + one division
    * per list, fixed order), so scores are engine-reproducible. */
  def rrfFuse(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame,
      idCol: String, rankCol: String, c: Int = 60, k: Int = 10): org.apache.spark.sql.DataFrame = {
    val left = a.select(col(idCol), col(rankCol).as("_ra"))
    val right = b.select(col(idCol), col(rankCol).as("_rb"))
    left.join(right, Seq(idCol), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(c) + col("_ra")).cast("double"), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c) + col("_rb")).cast("double"), lit(0.0)))
      .orderBy(col("rrf").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("rrf"))
  }

  /** Benchmark DECONTAMINATION: drop training documents that share any
    * word n-gram with a held-out evaluation set — the GPT-3/Pile-style
    * 13-gram decontamination every serious pretraining pipeline runs
    * before training (n configurable; 13 is the literature default,
    * smaller n is stricter). A document shorter than n tokens has no
    * n-gram and always survives.
    *
    * Scale shape: the eval side is SMALL by definition (benchmarks are
    * thousands of docs, training corpora billions), so its distinct
    * n-grams BROADCAST; the train side explodes to per-doc distinct
    * n-grams (array_distinct before explode keeps the blow-up at
    * unique-grams, not positions), left-semi joins the broadcast to
    * find contaminated ids, and the payload anti-joins that id set —
    * training text shuffles NOTHING, and the only wide op is the
    * id-distinct. No UDFs; everything codegen'd. */
  /** Distinct verbatim n-grams of the materialized `_toks` column.
    * Tokenization MUST be a bound column, not an inline expression:
    * higher-order functions run interpreted (no whole-stage codegen,
    * no subexpression elimination), so an inline `toks` referenced by
    * the n element_at's + size would re-tokenize the full text once
    * per reference per position — measured 20s-vs-sub-second at
    * sf0.1. Guard: sequence(1, k) is DESCENDING for k < 1, so
    * short/empty docs short-circuit to an empty array. */
  private def distinctGramsCol(n: Int): org.apache.spark.sql.Column = {
    val toks = col("_toks")
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(o => element_at(toks, i + o)): _*))))
      .otherwise(array().cast("array<string>"))
  }

  private def tokenizeCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    filter(split(lower(c), "[^a-z0-9]+"), x => x =!= "")

  def decontaminate(train: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, eval: org.apache.spark.sql.DataFrame,
      evalTextCol: String, n: Int = 13,
      hashGrams: Boolean = true): org.apache.spark.sql.DataFrame = {
    require(n >= 1, "n must be >= 1")
    def carrier(g: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      if (hashGrams) xxhash64(g) else g
    val grams = distinctGramsCol(n)
    def tokenize(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      tokenizeCol(c)
    val evalGrams = eval
      .select(tokenize(col(evalTextCol)).as("_toks"))
      .select(explode(grams).as("_g0"))
      .select(carrier(col("_g0")).as("_g")).distinct()
    val contaminated = train
      .select(col(idCol), tokenize(col(textCol)).as("_toks"))
      .select(col(idCol), explode(grams).as("_g0"))
      .select(col(idCol), carrier(col("_g0")).as("_g"))
      .join(broadcast(evalGrams), Seq("_g"), "left_semi")
      .select(col(idCol)).distinct()
    train.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Per-document NOVELTY against a reference corpus: the fraction of
    * the doc's distinct n-grams ABSENT from the reference's gram set —
    * the graded curation signal between [[decontaminate]]'s hard drop
    * and keeping everything. A mixture builder ranks candidate batches
    * by novelty to spend its token budget on new information instead
    * of re-crawled near-copy mass (the n-gram form of SemDeDup's
    * motivation, cheap enough to run per ingest batch).
    *
    * Shape: both sides explode to per-doc DISTINCT grams; the
    * reference set is gram-distinct then equijoined (left join + null
    * marker — counts matched and total in ONE aggregation). Unlike
    * decontaminate's broadcast, the reference here may itself be
    * corpus-sized, so the join is a plain shuffled hash join on the
    * gram carrier; with `hashGrams` the carrier is 8 bytes and a
    * collision can only mark a novel gram as seen (novelty
    * UNDERcounts — the safe direction for a keep-score). Returns
    * (id, n_grams, n_novel, novelty) for docs with >= 1 gram. */
  def noveltyScore(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, reference: org.apache.spark.sql.DataFrame,
      refTextCol: String, n: Int = 3,
      hashGrams: Boolean = true): org.apache.spark.sql.DataFrame = {
    require(n >= 1, "n must be >= 1")
    def carrier(g: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      if (hashGrams) xxhash64(g) else g
    val grams = distinctGramsCol(n)
    val refG = reference.select(tokenizeCol(col(refTextCol)).as("_toks"))
      .select(explode(grams).as("_g0"))
      .select(carrier(col("_g0")).as("_g")).distinct()
      .withColumn("_hit", lit(1))
    df.select(col(idCol), tokenizeCol(col(textCol)).as("_toks"))
      .select(col(idCol), explode(grams).as("_g0"))
      .select(col(idCol), carrier(col("_g0")).as("_g"))
      .join(refG, Seq("_g"), "left_outer")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("_hit").isNull, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_grams").cast("double"))
  }

  /** FUZZY benchmark decontamination: drop training documents that
    * NEAR-duplicate any eval document (MinHash/LSH candidates, exact
    * trigram-Jaccard verify at `threshold`) — the complement of
    * [[decontaminate]]'s exact n-gram hits. Real pipelines run both:
    * contaminated docs are routinely light paraphrases or
    * whitespace/markup variants of benchmark items that share no
    * verbatim 13-gram (GPT-3 appendix C removed such overlaps too).
    *
    * Built on [[Dedup.minhashAgainstPreparedSmallCorpus]] with the
    * EVAL set as the corpus side: eval's bucket set is the small
    * BROADCAST census that pre-filters training banding, so train rows
    * landing in no eval bucket never shuffle, training text joins
    * payloads only for rows inside a mixed bucket, and the train side
    * is never pinned/materialized — the orientation that holds when
    * train is 100 TB and eval is a benchmark suite.
    *
    * Id plumbing: the two sides need disjoint id spaces, so train ids
    * (cast to long — must fit in 62 bits; a null-casting id never
    * drops, as in every dedup variant) map to the EVEN longs and eval
    * rows get synthetic ODD ids — no assumption about either side's
    * key range, and eval needs no id column at all. Returns the
    * surviving train rows unchanged. */
  def decontaminateFuzzy(train: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, eval: org.apache.spark.sql.DataFrame,
      evalTextCol: String, threshold: Double = 0.5): org.apache.spark.sql.DataFrame = {
    val D = graft.operators.Dedup
    val evalK = eval
      .select(col(evalTextCol).as("_ftext"))
      .withColumn("_fid", monotonically_increasing_id() * 2 + 1)
    val trainK = train
      .withColumn("_fid", col(idCol).cast("long") * 2)
      .withColumn("_ftext", col(textCol))
    val drops = D.minhashAgainstPreparedSmallCorpus(
      D.prepareMinhash(evalK, "_fid", "_ftext"),
      D.prepareMinhash(trainK, "_fid", "_ftext"),
      threshold = threshold)
    // anti-join on the DROP set so null-id rows pass through
    trainK.join(drops, trainK("_fid") === drops("_drop"), "left_anti")
      .drop("_fid", "_ftext")
  }

  /** SEMANTIC benchmark decontamination: drop training rows whose
    * EMBEDDING is within cosine `threshold` of ANY eval embedding — the
    * third member of the decontamination family. [[decontaminate]]
    * catches verbatim n-gram overlap and [[decontaminateFuzzy]] lexical
    * near-duplicates; a translated or heavily paraphrased benchmark item
    * shares neither 13-grams nor trigram shingles, but its embedding
    * stays close — this is the standard third pass over embedded corpora.
    *
    * Orientation as in the siblings: eval is a benchmark suite (10^3-10^5
    * rows) so its vectors COLLECT and BROADCAST as one dense matrix; the
    * 100-TB train side is scanned partition-locally against it (the
    * SemDeDup broadcast-carrier shape, [[Dedup.semanticDedupBroadcast]])
    * — ZERO train-side shuffle beyond the final anti-join on ids, no plan
    * literals, early-exit on the first hit. Per-row cost is O(|eval|*d)
    * exact brute force; for eval sets beyond that, pre-filter with the
    * 64-bit binary signature Hamming shortlist ([[Ann.encodeBinary]]) and
    * rescore only shortlist hits — same trade as queryApprox.
    *
    * The verdict per row is a >=-threshold BOOLEAN on SQL double
    * semantics ([[Dedup.cosineGE]]) — engine-comparable, like q119. Rows
    * with a null id, null vector, or a dimension mismatched to a given
    * eval vector never drop (contamination must be provable), mirroring
    * every dedup variant's null policy. */
  def decontaminateSemantic(train: org.apache.spark.sql.DataFrame, idCol: String,
      vecCol: String, eval: org.apache.spark.sql.DataFrame,
      evalVecCol: String, threshold: Double = 0.9): org.apache.spark.sql.DataFrame = {
    val spark = train.sparkSession
    import spark.implicits._
    val evalVecs: Array[Array[Double]] = eval
      .select(col(evalVecCol).cast("array<double>"))
      .as[Array[Double]].collect().filter(_ != null)
    if (evalVecs.isEmpty) return train
    val bc = spark.sparkContext.broadcast(evalVecs)
    val t = threshold
    val contaminated = train
      .select(col(idCol).cast("long").as("_id"),
        col(vecCol).cast("array<double>").as("_v"))
      .filter(col("_id").isNotNull && col("_v").isNotNull)
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val ev = bc.value
        it.flatMap { case (id, v) =>
          var hit = false
          var i = 0
          while (i < ev.length && !hit) {
            if (ev(i).length == v.length && Dedup.cosineGE(v, ev(i), t)) hit = true
            i += 1
          }
          if (hit) Iterator.single(id) else Iterator.empty
        }
      }.toDF("_drop")
    train.join(contaminated, train(idCol).cast("long") === col("_drop"), "left_anti")
  }

  /** Gopher-style repetition signals: per document, the word count and
    * the occurrence count of its most frequent word n-gram. A document
    * whose single top bigram covers a large share of its words is
    * boilerplate/spam (nav bars, keyword stuffing) — the standard
    * repetition-removal filter of training-data pipelines (Gopher
    * §A.1.1's dup-n-gram family).
    *
    * Returns the input columns plus `_wc` (word count, per-row) and
    * `_topn` (max n-gram occurrence, 0 when the doc has no n-gram).
    *
    * Scale shape: explode → two-level aggregation keyed by doc id
    * (partial map-side combine applies — each doc's n-grams mostly
    * colocate in its input split), then one co-keyed join back to the
    * payload. No UDFs; everything codegen'd. */
  def repetitionStats(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, n: Int = 2): org.apache.spark.sql.DataFrame = {
    require(n >= 1, "n must be >= 1")
    val toks = filter(split(lower(col(textCol)), "[^a-z0-9]+"), x => x =!= "")
    // the gram lambda reads the MATERIALIZED `_tk` column, never the
    // tokenize expression inline: higher-order functions run
    // interpreted (no codegen CSE), so inlining re-tokenizes the full
    // text once per element_at per position — the 20x blow-up measured
    // on [[decontaminate]] before the same fix
    val tk = col("_tk")
    val grams = transform(sequence(lit(1), size(tk) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(o => element_at(tk, i + o)): _*))
    val withWc = df.withColumn("_wc", size(toks))
    val top = withWc
      .filter(col("_wc") >= n)
      .select(col(idCol), toks.as("_tk"))
      .select(col(idCol), explode(grams).as("_g"))
      .groupBy(col(idCol), col("_g")).agg(count(lit(1)).as("_gn"))
      .groupBy(col(idCol)).agg(max(col("_gn")).as("_topn"))
    withWc.join(top.withColumnRenamed(idCol, "_rid"),
        withWc(idCol) === col("_rid"), "left_outer")
      .drop("_rid")
      .withColumn("_topn", coalesce(col("_topn"), lit(0L)))
  }

  // ---------- fingerprinting ----------

  /** Exact content fingerprint: 64-bit hash of whitespace-normalized,
    * lowercased text (built-in xxhash64 — codegen'd). */
  def fingerprint(text: Column): Column =
    xxhash64(regexp_replace(lower(trim(text)), "\\s+", " "))
}
