package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Q, Query, Tables}
import graft.Tables.{load => t}
import graft.functions.SimHash64.simhash64

/** Text analysis for training-data pipelines (EXT, SURVEY §2.12 E4):
  * per-document quality signals and corpus-level distributions. All
  * map-only column expressions feeding one aggregation — the canonical
  * linear-scaling shape.
  */
object TextStats {

  private val StopWords = Seq("the", "a", "of", "and", "to")

  /** BPE-ish tokenizer regex — letter runs, digit runs, single other
    * non-space chars. ONE constant interpolated into both engines'
    * programs (Java∩RE2 subset, per the engine-parity conventions). */
  val TokenRe = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(split(text, " "))

  /** BPE-ish token count: letter runs, digit runs, and single other
    * non-space chars each count as one token. */
  def bpeishTokenCount(text: Column): Column =
    regexp_count(text, lit(TokenRe))

  /** Stopword ratio — fraction of tokens in the stopword list. */
  def stopwordRatio(text: Column): Column = {
    val words = split(text, " ")
    size(filter(words, w => w.isin(StopWords: _*))).cast("double") /
      greatest(size(words), lit(1))
  }

  /** Rolling-hash document fingerprint: SimHash over 3-word shingles
    * (shared with near-dedup so fingerprints are comparable). */
  def fingerprint(text: Column): Column =
    simhash64(Dedup.shingles(text, 3))

  /** Marker sets for [[languageIdHeuristic]] — ONE constant interpolated
    * into both the Spark plan and the DuckDB oracle (CLAUDE.md parity
    * rule), tiny placeholders for real n-gram profiles. */
  private[graft] val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is"),
    "de" -> Seq("der", "und", "die", "ist"),
    "es" -> Seq("el", "la", "de", "es"),
    "fr" -> Seq("le", "la", "et", "est"))

  /** Cheap n-gram language-ID heuristic: score against per-language
    * marker sets, pick the argmax (ties → the lexicographically LARGER
    * language tag, via struct comparison; zero hits → "und"). Map-only
    * scoring — no shuffle, the language-gate shape a 100 TB corpus
    * filter needs. */
  def languageIdHeuristic(text: Column): Column = {
    val markers = langMarkers
    val words = split(lower(text), " ")
    val scored = markers.map { case (lang, ms) =>
      struct(size(filter(words, w => w.isin(ms: _*))).as("score"),
        lit(lang).as("lang"))
    }
    val best = greatest(scored: _*)
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Composite quality score in [0,1]: length, token-length sanity, and
    * stopword presence (a real pipeline would calibrate the weights). */
  def qualityScore(text: Column): Column = {
    val words = tokenCount(text)
    val avgWordLen = length(text).cast("double") / greatest(words, lit(1))
    val lenOk = when(length(text).between(50, 10000), 1.0).otherwise(0.0)
    val wordLenOk = when(avgWordLen.between(2.0, 12.0), 1.0).otherwise(0.0)
    val stopOk = when(stopwordRatio(text) <= 0.6, 1.0).otherwise(0.0)
    round((lenOk + wordLenOk + stopOk) / 3.0, 4)
  }

  /** Per-document top-k TF-IDF keywords: tf = term count / doc length,
    * idf = ln(N/df). Two keyed aggregations (doc-term counts, term
    * document frequency), a vocabulary-sized equi-join back, a per-doc
    * rank — no all-pairs, no unpartitioned window; the one-row corpus
    * count crossJoins onto the VOCABULARY table (not the corpus), which
    * then joins term-keyed. The canonical keyword/boilerplate-surfacing
    * signal over a training corpus. */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val words = docs.select(col(idCol).as("doc_id"),
      explode(split(col(textCol), " ")).as("word"))
    val tf = words.groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("c"))
      .withColumn("tf", col("c").cast("double") /
        sum(col("c")).over(Window.partitionBy(col("doc_id"))))
    val dft = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val nAgg = docs.agg(count(lit(1)).as("n"))
    val idf = dft.crossJoin(nAgg)
      .withColumn("idf", log(col("n").cast("double") / col("df")))
      .select(col("word"), col("idf"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("word"))
    tf.join(idf, Seq("word"))
      .withColumn("tfidf", col("tf") * col("idf"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("rnk"), col("word"),
        round(col("tfidf"), 6).as("tfidf"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  /** Unigram-LM negative log-likelihood per document — the cheap
    * perplexity proxy quality pipelines use before any neural scorer:
    * p(w) = corpus count(w) / total tokens, doc score = mean −ln p(w)
    * over its words (high = unusual vocabulary). Same scale shape as
    * TF-IDF: one corpus-keyed aggregation, a vocabulary equi-join back,
    * a per-doc mean. */
  def unigramLogprob(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val words = docs.select(col(idCol).as("doc_id"),
      explode(split(col(textCol), " ")).as("word"))
    val freq = words.groupBy(col("word")).agg(count(lit(1)).as("c"))
    val totAgg = words.agg(count(lit(1)).as("total"))
    val lm = freq.crossJoin(totAgg)
      .select(col("word"),
        (-log(col("c").cast("double") / col("total"))).as("nll"))
    words.join(lm, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        round(avg(col("nll")), 6).as("avg_nll"))
      .orderBy(col("doc_id"))
  }

  /** Bigram language-model scoring with add-k smoothing — the step up
    * from [[unigramLogprob]] every quality-filter stack takes (word
    * order starts to matter: shuffled boilerplate scores badly under a
    * bigram LM while a unigram LM can't tell). Train-and-score on the
    * corpus in three keyed aggregations: bigram counts (the one big
    * shuffle, partial-agg'd), history counts derived FROM the bigram
    * table (no second corpus pass), vocabulary size as a bounded
    * scalar; scoring re-joins the doc bigram stream to the count
    * tables — the standard LM-scoring dataflow at any scale. nll is
    * rounded per bigram TYPE (6) before the per-doc avg (4), per the
    * rounding-parity convention. */
  def bigramLogprob(docs: DataFrame, idCol: String, textCol: String,
      addK: Double = 0.5): DataFrame = {
    val ws = split(col(textCol), " ")
    val bigrams = docs.select(col(idCol).as("doc_id"), ws.as("ws"))
      .filter(size(col("ws")) >= 2) // sequence(1,0) would DESCEND
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(ws) - 1), i ->
          |  struct(element_at(ws, i) AS w1,
          |         element_at(ws, i + 1) AS w2))""".stripMargin)).as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"))
    val cb = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("cb"))
    val ch = cb.groupBy(col("w1")).agg(sum(col("cb")).as("ch"))
    val vAgg = docs
      .select(explode(split(col(textCol), " ")).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    val lm = cb.join(ch, Seq("w1")).crossJoin(vAgg)
      .select(col("w1"), col("w2"),
        round(-log((col("cb") + lit(addK)) /
          (col("ch") + lit(addK) * col("v"))), 6).as("nll"))
    bigrams.join(lm, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("nll")), 4).as("avg_nll"))
      .orderBy(col("doc_id"))
  }

  /** Stupid-backoff trigram LM scoring (Brants et al., EMNLP'07 —
    * "Large Language Models in Machine Translation": the web-scale
    * backoff that skips normalization because at corpus size it
    * doesn't matter) — the distributed stand-in for the KenLM scorer
    * CCNet runs before perplexity bucketing. TRAIN on one corpus
    * slice, SCORE held-out documents, so the backoff chain actually
    * fires (scoring the training slice itself never backs off — every
    * observed trigram has count ≥ 1):
    *
    *   S(w3|w1w2) = c3/ch3             if the trigram was seen
    *              = 0.4 · S(w3|w2)     otherwise
    *   S(w3|w2)   = c2/ch2             if the bigram was seen
    *              = 0.4 · S1(w3)       otherwise
    *   S1(w3)     = (c1 + 1)/(N + V)   add-one unigram floor, so an
    *                                   OOV word scores finitely
    *
    * Dataflow: three keyed count tables from the train slice (history
    * counts derived FROM the n-gram tables — no extra corpus pass,
    * the [[bigramLogprob]] discipline), scored per probe trigram TYPE
    * via left equi-joins, then one join back onto the probe stream.
    * nll rounds per type (6); the per-doc rollup is an INTEGER
    * micro-nat sum (round(nll·10⁶) per instance, summed as BIGINT) —
    * a rounded double avg hit an exact half-boundary at the 4th
    * decimal at sf0.1 (the w8 pattern: double summation order is not
    * associative, integer sums are). */
  def backoffTrigramScore(train: DataFrame, probe: DataFrame,
      idCol: String, textCol: String, alpha: Double = 0.4): DataFrame = {
    def tris(df: DataFrame) = df
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(ws) - 2), i ->
          |  struct(element_at(ws, i) AS w1,
          |         element_at(ws, i + 1) AS w2,
          |         element_at(ws, i + 2) AS w3))""".stripMargin)).as("t"))
      .select(col("doc_id"), col("t.w1"), col("t.w2"), col("t.w3"))
    def bis(df: DataFrame) = df
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(ws) - 1), i ->
          |  struct(element_at(ws, i) AS w2,
          |         element_at(ws, i + 1) AS w3))""".stripMargin)).as("b"))
      .select(col("b.w2"), col("b.w3"))
    val uni = train.select(explode(split(col(textCol), " ")).as("w3"))
    val c3 = tris(train).groupBy(col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("c3"))
    val ch3 = c3.groupBy(col("w1"), col("w2")).agg(sum(col("c3")).as("ch3"))
    val c2 = bis(train).groupBy(col("w2"), col("w3"))
      .agg(count(lit(1)).as("c2"))
    val ch2 = c2.groupBy(col("w2")).agg(sum(col("c2")).as("ch2"))
    val c1 = uni.groupBy(col("w3")).agg(count(lit(1)).as("c1"))
    val nvAgg = uni.agg(count(lit(1)).as("n"),
      countDistinct(col("w3")).as("v"))
    val probeTris = tris(probe)
    val types = probeTris.select(col("w1"), col("w2"), col("w3")).distinct()
      .join(c3, Seq("w1", "w2", "w3"), "left")
      .join(ch3, Seq("w1", "w2"), "left")
      .join(c2, Seq("w2", "w3"), "left")
      .join(ch2, Seq("w2"), "left")
      .join(c1, Seq("w3"), "left")
      .crossJoin(nvAgg)
    val s1 = (coalesce(col("c1"), lit(0L)) + lit(1)).cast("double") /
      (col("n") + col("v"))
    val s2 = when(col("c2").isNotNull,
      col("c2").cast("double") / col("ch2")).otherwise(lit(alpha) * s1)
    val s3 = when(col("c3").isNotNull,
      col("c3").cast("double") / col("ch3")).otherwise(lit(alpha) * s2)
    val scored = types.select(col("w1"), col("w2"), col("w3"),
      round(-log(s3), 6).as("nll"), col("c3").isNotNull.as("tri_hit"))
    probeTris.join(scored, Seq("w1", "w2", "w3"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trigrams"),
        sum(when(col("tri_hit"), 1L).otherwise(0L)).as("n_tri_hits"),
        sum(when(col("tri_hit"), 0L).otherwise(1L)).as("n_backoffs"),
        sum(round(col("nll") * 1e6).cast("long")).as("sum_nll_micro"))
      .orderBy(col("doc_id"))
  }

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    * SIGMOD'03 — the MOSS algorithm): char k-gram hashes, keep the
    * minimum hash of every w-gram window. Guarantee: any substring
    * match of length ≥ k+w−1 between two documents yields a SHARED
    * fingerprint, while only ~2/(w+1) of the gram hashes are kept —
    * the robust substring-fingerprint primitive between whole-document
    * hashing (too coarse) and storing every shingle (too big). The
    * gram hash is the first 64 BITS of sha-256 as hex (engine-portable,
    * unlike xxhash on the oracle side; fixed-width hex compares
    * lexicographically = numerically, and truncation is applied
    * IDENTICALLY on both engines, so the selected minima agree — while
    * the per-gram shuffle payload is 16 bytes, not the 64-byte full
    * digest: the window shuffle is the operator's one big data
    * movement and it is per-doc, never cross-doc). The window min is
    * one bounded ROWS frame per doc. Output: the DISTINCT
    * (doc, fingerprint) set. */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 6): DataFrame = {
    val base = docs
      .select(col(idCol).as("doc_id"), col(textCol).as("t"),
        length(col(textCol)).as("len"))
      .filter(col("len") >= k + w - 1) // at least one full window
    val grams = base.select(col("doc_id"), col("len"),
      posexplode(expr(
        s"transform(sequence(1, len - ${k - 1}), i -> " +
          s"substring(sha2(substring(t, i, $k), 256), 1, 16))")))
      .select(col("doc_id"), col("len"), col("pos"), col("col").as("h"))
    val win = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    grams.withColumn("fp", min(col("h")).over(win))
      .filter(col("pos") <= col("len") - lit(k + w - 1)) // full windows only
      .select(col("doc_id"), col("fp")).distinct()
      .orderBy(col("doc_id"), col("fp"))
  }

  /** Vocabulary build + out-of-vocabulary coverage — the first question
    * a tokenizer/data team asks of a new corpus slice: with a top-N
    * frequency vocabulary, what fraction of each source's token stream
    * falls outside it? One corpus-keyed aggregation builds the
    * frequency table; the vocabulary is a bounded top-N
    * (TakeOrderedAndProject — N rows cross the wire, never the table);
    * coverage is a broadcast join of the token stream against the N-row
    * vocabulary into a per-source aggregate. At 100 TB: token freq is
    * the one big (partial-agg) shuffle; everything after is map-side.
    * Ties at the vocabulary boundary break deterministically by
    * (freq desc, token asc) in both engines. */
  def vocabOovCoverage(docs: DataFrame, textCol: String,
      sourceCol: String, vocabSize: Int): DataFrame = {
    val toks = docs.select(col(sourceCol).as("source"),
      explode(regexp_extract_all(col(textCol), lit(TokenRe), lit(0)))
        .as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(vocabSize)
      .select(col("tok"), lit(1).as("in_v"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("source"), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens"), 6)
          .as("oov_rate"))
      .orderBy(col("source"))
  }

  /** BM25 keyword retrieval (Robertson/Sparck-Jones, the lexical-search
    * baseline every corpus tool ships): score docs against a bag of
    * query terms, return the top-k.
    *
    *   idf(t)  = ln(1 + (N − df + 0.5)/(df + 0.5))
    *   score(d)= Σ_t idf·tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * Scale shape: the word stream filters to the query's terms BEFORE
    * any shuffle (a Q-term isin on the scan), so the keyed aggregation
    * carries only matching (doc, term) pairs; df and the two corpus
    * scalars (N, avgdl) are one global agg crossJoined onto the Q-row
    * term table (not the corpus); top-k is TakeOrderedAndProject.
    * Docs matching no term score 0 and are ranked by id — included so
    * k is honored even for absurd queries. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"),
      tokenCount(col(textCol)).cast("double").as("dl"),
      split(col(textCol), " ").as("ws"))
    val stats = base.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val tf = base.select(col("doc_id"), col("dl"),
      explode(col("ws")).as("term"))
      .filter(col("term").isin(terms.distinct: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(stats)
      .select(col("term"),
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) /
          (col("df") + 0.5)).as("idf"),
        col("avgdl"))
    val scored = tf.join(broadcast(dft), Seq("term"))
      .withColumn("contrib",
        col("idf") * col("tf") * (k1 + 1) /
          (col("tf") +
            lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col("doc_id")).agg(sum(col("contrib")).as("score"))
    base.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        round(coalesce(col("score"), lit(0.0)), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(k)
  }

  /** χ² independence statistic for two categorical columns — the
    * "is language correlated with source?" bias probe a corpus audit
    * runs. Observed cells + both marginals come from ONE pass over the
    * observed-cell table (window sums over the C-row cell frame — the
    * fact table aggregates first, the window never sees data rows);
    * χ² = Σ (O−E)²/E with E = rowTot·colTot/N. Value-level oracle on
    * the identical closed form. */
  def chiSquare(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.groupBy(col(aCol), col(bCol))
      .agg(count(lit(1)).cast("double").as("o"))
    val withMarg = cells
      .withColumn("ra", sum(col("o")).over(Window.partitionBy(col(aCol))))
      .withColumn("cb", sum(col("o")).over(Window.partitionBy(col(bCol))))
      .withColumn("n", sum(col("o")).over(Window.partitionBy()))
    withMarg
      .withColumn("e", col("ra") * col("cb") / col("n"))
      .agg(round(sum(pow(col("o") - col("e"), 2) / col("e")), 6)
        .as("chi2"),
        count(lit(1)).as("n_cells"))
  }

  /** Zipf fit of the token-frequency distribution: least-squares slope
    * of ln(freq) on ln(rank) — natural text sits near −1; templated or
    * synthetic text drifts. Frequency table + rank window + one
    * closed-form aggregation; the vocabulary frame (not the corpus)
    * carries the window. */
  def zipfFit(docs: DataFrame, textCol: String): DataFrame = {
    val freq = docs
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).cast("double").as("f"))
    val ranked = freq.withColumn("r",
      row_number().over(Window.orderBy(col("f").desc, col("w")))
        .cast("double"))
      .select(log(col("r")).as("x"), log(col("f")).as("y"))
    ranked.agg(count(lit(1)).cast("double").as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"))
      .select(col("n").cast("long").as("n_types"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")), 4).as("slope"))
  }

  /** PMI collocation mining — the corpus-linguistics signal for
    * multiword expressions ("new york" vs chance co-occurrence):
    *   pmi(w1,w2) = ln( p(w1,w2) / (p(w1)·p(w2)) )
    * with p(w1,w2) over adjacent bigrams and p(w) over the unigram
    * stream. Scale shape: one unigram groupBy and one bigram groupBy
    * (both partial-agg shuffles over narrow keys); the min-count filter
    * shrinks the bigram table BEFORE its two vocabulary equi-joins; the
    * two corpus totals are 1-row aggregates crossJoined on. Top-k is
    * TakeOrderedAndProject on (pmi desc, w1, w2) — ordering on the
    * ROUNDED value so the boundary is engine-stable. */
  def pmiCollocations(docs: DataFrame, textCol: String, minCount: Int,
      k: Int): DataFrame = {
    val ws = docs.select(split(col(textCol), " ").as("l"))
    val uni = ws.select(explode(col("l")).as("w"))
    val uc = uni.groupBy(col("w")).agg(count(lit(1)).cast("double").as("c"))
    val n1 = uni.agg(count(lit(1)).cast("double").as("n1"))
    // sequence() reverses when start > stop, so a 1-word doc must be
    // filtered out rather than guarded with greatest().
    val pairs = ws.filter(size(col("l")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(l)-2), i -> struct(l[i] AS w1, l[i+1] AS w2))"))
        .as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val n2 = pairs.agg(count(lit(1)).cast("double").as("n2"))
    val bc = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).cast("double").as("c12"))
      .filter(col("c12") >= minCount)
    bc.crossJoin(n1).crossJoin(n2)
      .join(uc.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uc.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
      .select(col("w1"), col("w2"), col("c12").cast("long").as("pair_count"),
        round(log(col("c12") * col("n1") * col("n1") /
          (col("n2") * col("c1") * col("c2"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2")).limit(k)
  }

  // --------------------------------------------- BPE merge training

  /** Distributed BPE tokenizer training — the Sennrich merge loop,
    * Spark-shaped: ONE corpus-wide shuffle builds the word-frequency
    * table, then every merge round runs over that vocab-sized table
    * only (exactly how cluster BPE trainers work — the corpus is
    * touched once, the iterations are cheap): adjacent symbol-pair
    * counts weighted by word frequency → arg-max pair ((count desc,
    * pair asc) tie-break, pure integers) → left-to-right non-
    * overlapping `replace` merge, applied in-plan via a one-row
    * crossJoin (no driver round-trip; both engines' `replace` share
    * leftmost-non-overlap semantics). `localCheckpoint` per round cuts
    * the doubled lineage (seqs feed both the next count and the next
    * merge), standing in for the persisted vocab table a real trainer
    * writes per round. Returns one row per round: the learned merge
    * and its count. */
  def bpeMerges(docs: DataFrame, textCol: String, rounds: Int): DataFrame = {
    val wc = docs.select(explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    // Symbol sequences are DELIMITER-OWNED: symbols joined by TWO
    // spaces, one outer space each end — every symbol owns one space
    // on each side. The merge pattern ' x  y ' therefore (a) can never
    // match INSIDE a multi-char symbol (no spaces there) or across a
    // symbol suffix ('za','b' does not contain ' a  b '), and (b) a
    // run 'a a a a' merges to 'aa aa' in ONE leftmost-non-overlap
    // replace pass, because each replacement returns the delimiter
    // space it consumed. Plain single-space join has both defects
    // (the round-6 advisory: suffix-crossing merges).
    var seqs = wc.select(
      concat(lit(" "),
        trim(regexp_replace(col("w"), "(.)", "$1  ")), lit(" ")).as("seq"),
      col("n"))
      .localCheckpoint(true)
    val perRound = (1 to rounds).map { r =>
      val l = split(trim(col("seq")), "  ")
      val pairs = seqs.filter(size(l) >= 2)
        .select(col("n"), explode(transform(
          sequence(lit(1), size(l) - 1),
          i => concat(element_at(l, i), lit(" "), element_at(l, i + 1))))
          .as("pair"))
        .groupBy(col("pair")).agg(sum(col("n")).as("cnt"))
      val top = pairs
        .orderBy(col("cnt").desc, col("pair")).limit(1)
        .select(col("pair"), regexp_replace(col("pair"), " ", "").as("merged"),
          col("cnt"))
      seqs = seqs.crossJoin(top)
        .select(expr(
          """replace(seq, concat(' ', replace(pair, ' ', '  '), ' '),
            |  concat(' ', merged, ' '))""".stripMargin).as("seq"),
          col("n"))
        .localCheckpoint(true)
      top.select(lit(r).as("round"), col("pair"), col("merged"), col("cnt"))
    }
    perRound.reduce(_.unionByName(_)).orderBy(col("round"))
  }

  // ------------------------------------- unigram-LM tokenizer (e4w)

  /** Unigram-LM trainer constants — interpolated into the oracle SQL
    * (the regex-constant convention): max candidate piece length, seed
    * multi-char vocabulary size, per-iteration multi-char keep size. */
  val UniMaxLen = 4
  val UniSeed = 40
  val UniKeep = 25

  /** Hard cap on trainable/encodable word length — segmentation-path
    * enumeration is exponential in word length (2^(L-1) paths worst
    * case when every prefix extends by a single char), so one long
    * repetitive token (URL, base64, DNA) would wedge both engines.
    * Words past the cap are excluded from training and the encode
    * rollup on BOTH engines (a real tokenizer routes them to a
    * byte-fallback path); [[graft.functions.UnigramSeg]] fails loudly
    * rather than hang if one slips through. */
  val UniMaxWord = 16

  /** Unigram-LM subword TRAINER (Kudo 2018 — the SentencePiece
    * default; the OTHER standard subword algorithm next to
    * [[bpeMerges]]'s BPE): seed a candidate vocabulary from frequent
    * substrings, then iterate EM with per-iteration pruning. This is
    * the hard-EM (Viterbi) variant: the E-step assigns each distinct
    * word its single best segmentation under the current piece
    * probabilities (the same argmax SentencePiece uses at encode
    * time) and counts pieces from it — chosen over forward-backward
    * soft counts deliberately, because soft expected counts are sums
    * of exp/log-scaled products whose last-ulp behavior differs
    * across engines, while hard counts are EXACT integers and the
    * only floats in the loop are cnt/total IEEE divisions both
    * engines reproduce bit-for-bit (the full-value DuckDB oracle
    * re-derives every EM step with recursive-CTE path enumeration).
    *
    * Per iteration: probabilities p = cnt/total (doubles), best
    * segmentation per DISTINCT word (map-only native
    * [[graft.functions.UnigramSeg]] expression, piece table as a plan
    * reference object), piece counts weighted by word frequency (one
    * keyed aggregation), then pruning — every single-character piece
    * persists (coverage can never break), multi-char pieces keep the
    * top `keepMulti` by (count, piece). Driver traffic per round is
    * the vocabulary-sized piece table, the bpeMerges discipline; the
    * corpus-sized work (word counts, count aggregation) stays
    * distributed. Returns the final (piece, count) table sorted by
    * piece. */
  def unigramLmPieces(docs: DataFrame, textCol: String,
      maxPieceLen: Int = UniMaxLen, seedMulti: Int = UniSeed,
      keepMulti: Int = UniKeep, iters: Int = 2): Seq[(String, Long)] = {
    val wc = docs.select(explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "" && length(col("w")) <= UniMaxWord)
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = true) // consumed once per EM round
    val cand = wc
      .select(col("w"), col("n"),
        explode(sequence(lit(1), length(col("w")))).as("i"))
      .select(col("w"), col("n"), col("i"),
        explode(sequence(lit(1),
          least(lit(maxPieceLen), length(col("w")) - col("i") + 1)))
          .as("l"))
      .select(expr("substr(w, i, l)").as("piece"), col("n"))
      .groupBy(col("piece")).agg(sum(col("n")).as("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val chars = cand.filter(_._1.length == 1)
    val charSet = chars.map(_._1).toSet
    val multi0 = cand.filter(_._1.length >= 2)
      .sortBy { case (p, c) => (-c, p) }.take(seedMulti)
    var pieces: Seq[(String, Long)] =
      (chars ++ multi0).sortBy(_._1).toSeq
    for (_ <- 1 to iters) {
      val total = pieces.map(_._2).sum
      val probs = pieces.map { case (p, c) =>
        (p, c.toDouble / total.toDouble)
      }
      val counts = wc.select(col("n"),
          explode(graft.functions.UnigramSeg.unigramSeg(col("w"), probs))
            .as("piece"))
        .groupBy(col("piece")).agg(sum(col("n")).as("cnt"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      val keptChars = charSet.toSeq.sorted
        .map(p => (p, counts.getOrElse(p, 0L)))
      val keptMulti = counts.toSeq
        .filter { case (p, c) => p.length >= 2 && c > 0 }
        .sortBy { case (p, c) => (-c, p) }.take(keepMulti)
      pieces = (keptChars ++ keptMulti).sortBy(_._1)
    }
    pieces
  }

  /** E4w: the trained unigram-LM vocabulary — every kept piece with
    * its hard-EM count and probability in integer parts-per-million
    * ((cnt·10⁶) div total — integers never round, the w8/e9_topngram
    * boundary rule). Full value oracle: DuckDB re-derives the seed,
    * both EM rounds (recursive-CTE segmentation enumeration with the
    * identical score/tie order), the pruning, and the ppm division. */
  private val e4UnigramLm: Q = (s, dir) => {
    import s.implicits._
    val pieces = unigramLmPieces(Tables.spread(t(s, dir, "documents")), "text")
    val total = pieces.map(_._2).sum
    pieces.toDF("piece", "cnt")
      .withColumn("prob_ppm", expr(s"cnt * 1000000 div $total"))
      .orderBy(col("piece"))
  }

  /** E4w-apply: ENCODE the corpus with the trained unigram vocabulary
    * — best-segmentation length per DISTINCT word (the map-only
    * native expression; amortized across occurrences by a keyed join,
    * the tokenize-at-100-TB shape), rolled up per language in exact
    * integers. Words past [[UniMaxWord]] take the BYTE-FALLBACK path
    * (token count = UTF-8 byte length — SentencePiece's byte fallback
    * for out-of-model input), so no word is dropped from the rollup
    * and the exponential-enumeration guard costs nothing semantic. */
  private val e4UnigramApply: Q = (s, dir) => {
    val docs = Tables.spread(t(s, dir, "documents"))
    unigramEncodeRollup(docs, "text", "lang",
      unigramLmPieces(docs, "text"))
  }

  /** The e4_unigram_apply dataflow over an explicit piece table —
    * factored out so the byte-fallback path is unit-testable on a
    * corpus that actually contains an over-cap token. */
  def unigramEncodeRollup(docs: DataFrame, textCol: String,
      langCol: String, pieces: Seq[(String, Long)]): DataFrame = {
    val total = pieces.map(_._2).sum
    val probs = pieces.map { case (p, c) =>
      (p, c.toDouble / total.toDouble)
    }
    val words = docs.select(col(langCol).as("lang"),
        explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
    val short = words.filter(length(col("w")) <= UniMaxWord)
    val wd = short.select(col("w")).distinct()
      .withColumn("nseg",
        size(graft.functions.UnigramSeg.unigramSeg(col("w"), probs))
          .cast("long"))
    short.join(wd, Seq("w")).select(col("lang"), col("nseg"))
      .unionByName(words.filter(length(col("w")) > UniMaxWord)
        .select(col("lang"), octet_length(col("w")).cast("long")
          .as("nseg")))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"), sum(col("nseg")).as("sum_tokens"))
      .orderBy(col("lang"))
  }

  /** E4wp: ENCODE the corpus with a WORDPIECE vocabulary — greedy
    * longest-match-first with `##` continuations ([[graft.functions
    * .WordPieceSeg]], the BERT tokenizer; the third standard subword
    * family next to BPE and unigram-LM, completing the tokenizer
    * surface). The vocabulary derives from the SAME trained unigram
    * piece table (every piece word-initial and as a `##` continuation),
    * so the oracle re-derives vocab AND walk: the greedy scan is
    * restated as a single-path recursive CTE (longest match via a
    * NOT-EXISTS-longer guard — unique at a fixed position, no
    * tie-break needed). Per the algorithm, a word where greed
    * dead-ends is ONE `[UNK]` token with no backtracking — `n_unk`
    * counts those occurrences; a spec pins the case where greedy
    * dead-ends on a word the unigram path segments fine. Same
    * amortization shape as the unigram encode: segment DISTINCT words
    * map-only, join counts back to occurrences. Greedy is linear in
    * word length (no backtracking), so unlike the unigram path no
    * length cap is needed — words past [[UniMaxWord]] segment too
    * (their letters may be absent from the length-capped trainer's
    * alphabet, which is how a real `[UNK]` arises). */
  private val e4WordpieceApply: Q = (s, dir) => {
    val docs = Tables.spread(t(s, dir, "documents"))
    val vocab = graft.functions.WordPieceSeg.vocabFromPieces(
      unigramLmPieces(docs, "text").map(_._1))
    val words = docs.select(col("lang"),
        explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
    val wd = words.select(col("w")).distinct()
      .withColumn("seg",
        graft.functions.WordPieceSeg.wordpieceSeg(col("w"), vocab))
      .select(col("w"), size(col("seg")).cast("long").as("nseg"),
        (col("seg") ===
          typedlit(Seq(graft.functions.WordPieceSeg.Unk))).as("unk"))
    words.join(wd, Seq("w"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("nseg")).as("sum_tokens"),
        sum(when(col("unk"), 1L).otherwise(0L)).as("n_unk"))
      .orderBy(col("lang"))
  }

  // ------------------------------------------------------------ queries

  /** E4: corpus distributions per language — counts, length/word stats,
    * source fanout, short-doc and stopword ratios, BPE-ish tokens. */
  private val e4TextStats: Q = (s, dir) =>
    Tables.spread(t(s, dir, "documents"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("n_chars")), 4).as("avg_chars"),
        round(avg(tokenCount(col("text"))), 4).as("avg_words"),
        round(avg(bpeishTokenCount(col("text"))), 4).as("avg_tokens"),
        countDistinct(col("source")).as("n_sources"),
        round(avg(when(col("n_chars") < 100, 1.0).otherwise(0.0)), 4)
          .as("short_ratio"),
        round(avg(stopwordRatio(col("text"))), 4).as("avg_stop_ratio"))
      .orderBy(col("lang"))

  /** E6: heavy hitters via Count-Min Sketch — the fixed-size-state way
    * to track frequent tokens at 100 TB (exact groupBy counts here are
    * only the verification side). Asserts the CMS guarantees in-plan:
    * estimates never undercount, and overcount is bounded by ε·N. */
  private val e6CmsHeavyHitters: Q = (s, dir) => {
    val words = Tables.spread(t(s, dir, "documents"))
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
    val top = words.groupBy(col("word")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word")).limit(10)
    val sketch = words.agg(
      count_min_sketch(col("word"), lit(0.001), lit(0.99), lit(42)).as("cms"),
      count(lit(1)).as("total"))
    val estimate = udf { (cms: Array[Byte], w: String) =>
      org.apache.spark.util.sketch.CountMinSketch
        .readFrom(new java.io.ByteArrayInputStream(cms)).estimateCount(w)
    }
    top.crossJoin(sketch)
      .withColumn("est", estimate(col("cms"), col("word")))
      .agg(
        expr("bool_and(est >= n)").as("no_undercount"),
        expr("bool_and(est <= n + cast(0.002 * total AS BIGINT))")
          .as("overcount_bounded"))
  }

  /** E4b: top-3 TF-IDF keywords per document, full value-level oracle. */
  private val e4Tfidf: Q = (s, dir) =>
    tfidfTopTerms(Tables.spread(t(s, dir, "documents")), "doc_id", "text", k = 3)

  /** E4c: per-document unigram-LM score, full value-level oracle. */
  private val e4Logprob: Q = (s, dir) =>
    unigramLogprob(Tables.spread(t(s, dir, "documents")), "doc_id", "text")

  /** E4j: bigram-LM quality scoring (add-0.5 smoothing). */
  private val e4BigramLm: Q = (s, dir) =>
    bigramLogprob(Tables.spread(t(s, dir, "documents")), "doc_id", "text")

  /** E4v: stupid-backoff trigram LM — train on doc_id % 3 ≠ 0, score
    * the held-out third so the backoff chain actually fires; full
    * value-level oracle re-deriving every count table, the per-type
    * backoff cascade, and the per-doc rollup. */
  private val e4BackoffLm: Q = (s, dir) => {
    val docs = Tables.spread(t(s, dir, "documents"))
    backoffTrigramScore(docs.filter(col("doc_id") % 3 =!= 0),
      docs.filter(col("doc_id") % 3 === 0), "doc_id", "text")
  }

  /** E4k: winnowing fingerprints (k=8 char grams, w=6 windows),
    * full value-level oracle on the exact fingerprint set. */
  private val e4Winnow: Q = (s, dir) =>
    winnowFingerprints(Tables.spread(t(s, dir, "documents")), "doc_id", "text")

  /** E4d: top-300 vocabulary, per-source OOV rates, value-level oracle. */
  private val e4VocabOov: Q = (s, dir) =>
    vocabOovCoverage(Tables.spread(t(s, dir, "documents")), "text", "source", 300)

  /** E4e: BM25 top-10 for a stopword query ('lottery' exercises the
    * df=0 missing-term path), full value-level oracle. */
  private val e4Bm25: Q = (s, dir) =>
    bm25TopK(Tables.spread(t(s, dir, "documents")), "doc_id", "text",
      Seq("the", "and", "of", "lottery"), k = 10)

  /** E4f: lang×source independence probe. */
  private val e4Chi2: Q = (s, dir) =>
    chiSquare(Tables.spread(t(s, dir, "documents")), "lang", "source")

  /** E4g: Zipf slope of the corpus token distribution. */
  private val e4Zipf: Q = (s, dir) =>
    zipfFit(Tables.spread(t(s, dir, "documents")), "text")

  /** E4h: top-40 PMI collocations with pair count ≥ 5. */
  private val e4Pmi: Q = (s, dir) =>
    pmiCollocations(Tables.spread(t(s, dir, "documents")), "text", minCount = 5, k = 40)

  /** E4i: per-document word-level Shannon entropy, rolled up per
    * language. Low-entropy docs are boilerplate/spam (a handful of
    * words repeated); the filter signal every curation stack computes.
    * H = ln N − (Σ c·ln c)/N over the doc's word counts — two
    * hash aggregations, no window, no shuffle wider than (doc, word).
    * Per CLAUDE.md rounding-parity: the per-DOC entropy rounds to 4
    * first, then the per-language avg/min/max round the rounded rows. */
  private val e4Entropy: Q = (s, dir) => {
    val words = Tables.spread(t(s, dir, "documents"))
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
    val wc = words.groupBy(col("doc_id"), col("lang"), col("w"))
      .agg(count(lit(1)).cast("double").as("c"))
    val ent = wc.groupBy(col("doc_id"), col("lang"))
      .agg(round(log(sum(col("c"))) -
        sum(col("c") * log(col("c"))) / sum(col("c")), 4).as("h"))
    ent.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("h")), 4).as("avg_entropy"),
        round(min(col("h")), 4).as("min_entropy"),
        round(max(col("h")), 4).as("max_entropy"))
      .orderBy(col("lang"))
  }

  /** E4j: the first 5 BPE merges learned from the corpus, exact. */
  /** E4y: BPE tokenizer APPLY — train the 5-round merge table, then
    * encode EVERY document with it via the native map-only
    * [[graft.functions.BpeEncode]] expression (the merge list is a
    * plan reference object; tokenization is one tight loop per row, no
    * shuffle — the tokenize-at-100-TB shape). Per-language token
    * rollup; the DuckDB oracle re-learns the merge table with the same
    * unrolled CTE chain as `e4_bpe` (carrying the word through) and
    * re-applies it word-by-word, so the native encoder's token counts
    * are value-checked end to end. */
  private val e4BpeApply: Q = (s, dir) => {
    val docs = Tables.spread(t(s, dir, "documents"))
    val merges = bpeMerges(docs, "text", rounds = 5)
      .orderBy(col("round"))
      .select(col("pair")).collect()
      .map { r =>
        val Array(l, rr) = r.getString(0).split(" ", 2)
        (l, rr)
      }.toSeq
    val tokens = graft.functions.BpeEncode.bpeEncode(col("text"), merges)
    docs.select(col("lang"), size(tokens).cast("long").as("t"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("sum_tokens"),
        round(avg(col("t")), 4).as("avg_tokens"))
      .orderBy(col("lang"))
  }

  private val e4Bpe: Q = (s, dir) =>
    bpeMerges(Tables.spread(t(s, dir, "documents")), "text", rounds = 5)

  /** E4l: language-ID confusion matrix — the heuristic's prediction vs
    * the table's `lang` label, with per-cell counts and the per-truth
    * hit share. Scoring is map-only; the rollup is one (lang, pred)
    * hash aggregation. The DuckDB oracle replicates the argmax
    * (including the struct tie-break: larger language tag wins) by
    * comparing zero-padded score strings with the tag appended. */
  private val e4Langid: Q = (s, dir) =>
    Tables.spread(t(s, dir, "documents"))
      .select(col("lang"), languageIdHeuristic(col("text")).as("pred"))
      .groupBy(col("lang"), col("pred"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share", round(col("n") /
        sum(col("n")).over(Window.partitionBy(col("lang"))), 4))
      .orderBy(col("lang"), col("pred"))

  // ------------------------------------------- trained language ID

  /** zh function words for the planted-marker corpus — the language
    * the HEURISTIC has no marker set for, so a trained classifier can
    * demonstrably beat it (it must predict 'und' on every zh doc). */
  private[graft] val ZhMarkers = Seq("的", "是", "在", "了")
  private[graft] val plantedLangMarkers: Seq[(String, Seq[String])] =
    langMarkers :+ ("zh" -> ZhMarkers)

  /** Deterministic per-lang marker plant (the [[Hygiene]]
    * withPlantedSpam discipline): the synthetic corpus's `lang` label
    * is NOT derivable from its text (every language draws from one
    * shared vocabulary — measured: every common word appears at the
    * base rate in every lang, and the marker heuristic scores 32%,
    * the "contains 'the'" rate), so a supervised gate must first make
    * the label learnable. Each doc gets TWO of its language's four
    * function words appended, rotated by doc_id — enough for a trained
    * model to separate perfectly, while the heuristic still errs two
    * ways: zh has no marker set at all, and the body corpus's real
    * 'the'/'is' occurrences out-vote a non-en doc's two planted
    * markers often enough to matter. */
  def withPlantedLangMarkers(docs: DataFrame): DataFrame = {
    val m = typedlit(plantedLangMarkers.toMap)
    val i = pmod(col("doc_id"), lit(4)).cast("int")
    docs.withColumn("text", concat_ws(" ", col("text"),
      element_at(element_at(m, col("lang")), i + 1),
      element_at(element_at(m, col("lang")),
        pmod(i + 1, lit(4)).cast("int") + 1)))
  }

  /** The SQL half of [[withPlantedLangMarkers]], from the same
    * constants (CLAUDE.md parity rule). */
  private def plantedTextSql: String = {
    def pick(off: Int) =
      s"""CASE lang ${plantedLangMarkers.map { case (l, ms) =>
           s"WHEN '$l' THEN ['${ms.mkString("','")}']"
         }.mkString(" ")} END[((doc_id + $off) % 4)::INT + 1]"""
    s"text || ' ' || ${pick(0)} || ' ' || ${pick(1)}"
  }

  /** E4lt: TRAINED language ID — the fastText-style classifier
    * production pipelines (CCNet/RefinedWeb class) run instead of
    * marker lists, composed from the e10b machinery: hashed
    * bag-of-ngrams presence features ([[QualityModel
    * .hashedNgramFeatures]] — word units, because PRESENCE char-grams
    * saturate on the shared body vocabulary and carry no signal here;
    * the hashing-trick dataflow is identical either way) into ONE
    * sparse softmax trainer ([[QualityModel.trainSoftmaxSparse]], all
    * 5 classes per aggregation job), scored map-only with literal
    * weights. Gated head-to-head against [[languageIdHeuristic]] on
    * the SAME held-out split: `n_test` and `n_heur_correct` are exact
    * integers the DuckDB oracle re-derives (plant + argmax restated in
    * SQL); the trained side's floats are engine-specific, so its
    * bounds are in-plan ✱ booleans — trained ≥ heuristic (the verdict
    * criterion) and ≥ 95% held-out accuracy (measured 1.00 at both
    * gate SFs; the heuristic measures ~0.84 on the planted corpus),
    * plus the ≥30% loss-drop convergence check. */
  private val e4LangidTrained: Q = (s, dir) => {
    val tags = plantedLangMarkers.map(_._1)
    val docs = withPlantedLangMarkers(
      Tables.spread(t(s, dir, "documents")).select(col("doc_id"), col("lang"),
        col("text")))
      .localCheckpoint(eager = false) // features + heuristic + labels
    val labels = docs.select(col("doc_id").cast("long").as("doc_id"),
      (array_position(typedlit(tags), col("lang")) - 1).cast("int")
        .as("y"))
      .localCheckpoint(eager = false) // joined every training step
    val dim = 1 << 12
    val feats = QualityModel.dfCapFeatures(
      QualityModel.hashedNgramFeatures(docs, "doc_id", "text", dim), dim)
      .localCheckpoint(eager = false) // scanned every training step
    val isTest = col("doc_id") % 5 === 0
    val (w, losses) = QualityModel.trainSoftmaxSparse(
      feats.filter(!isTest), labels.filter(!isTest), dim,
      nClasses = tags.size, iters = 8, lr = 5.0)
    val predTag = element_at(typedlit(tags), col("pred") + 1)
    QualityModel.scoreSoftmaxSparse(feats, w)
      .join(docs.select(col("doc_id"), col("lang"),
        languageIdHeuristic(col("text")).as("hpred")), Seq("doc_id"))
      .filter(isTest)
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("hpred") === col("lang"), 1L).otherwise(0L))
          .as("n_heur"),
        sum(when(predTag === col("lang"), 1L).otherwise(0L))
          .as("n_trained"))
      .select(col("n_test"), col("n_heur").as("n_heur_correct"),
        (col("n_trained") >= col("n_heur")).as("trained_beats_heuristic"),
        (col("n_trained") * 100 >= col("n_test") * 95)
          .as("trained_acc_ok"),
        lit(losses.last <= 0.7 * losses.head).as("loss_dropped"))
  }

  // ------------------------------------------------------ script ID

  /** Unicode script ranges — ONE constant each, interpolated into the
    * oracle (Java∩RE2: `\x{hhhh}` class ranges). */
  val CyrillicRe = "[\\x{0400}-\\x{04FF}]"
  val CjkRe = "[\\x{4E00}-\\x{9FFF}]"
  val GreekRe = "[\\x{0370}-\\x{03FF}]"

  /** Planted script snippets (escapes in Scala, interpolated verbatim
    * into the oracle SQL): Cyrillic "привет мир", CJK "你好世界",
    * Greek "γεια σου". */
  val CyrSnippet = "привет мир"
  val CjkSnippet = "你好世界"
  val GreekSnippet = "γεια σου"

  /** E4z: SCRIPT detection — the stage BEFORE language ID in every
    * multilingual crawl pipeline (script is a hard partition: Cyrillic
    * text can be Russian/Ukrainian/Serbian, but it is never English —
    * and CJK text defeats whitespace tokenizers entirely, so it must
    * route to a different pipeline). Map-only: per-doc counts of
    * characters in each script's Unicode range (shared class
    * constants), dominant script by a fixed threshold (≥ 4 chars) and
    * a pinned tie-break order. The gate plants snippets on modular
    * doc_id slices (a doc can carry several scripts — the tie-break
    * must resolve them identically in both engines) and rolls up per
    * (lang, script) with per-script char masses, all value-checked. */
  private val e4ScriptId: Q = (s, dir) => {
    val planted = Tables.spread(t(s, dir, "documents")).select(col("doc_id"), col("lang"),
      concat(col("text"),
        when(col("doc_id") % 5 === 0, lit(" " + CyrSnippet))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit(" " + CjkSnippet))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit(" " + GreekSnippet))
          .otherwise(lit(""))).as("text"))
    val counted = planted.select(col("lang"),
      regexp_count(col("text"), lit(CyrillicRe)).cast("long").as("c_cyr"),
      regexp_count(col("text"), lit(CjkRe)).cast("long").as("c_cjk"),
      regexp_count(col("text"), lit(GreekRe)).cast("long").as("c_greek"))
    val script = when(col("c_cyr") >= 4 && col("c_cyr") >= col("c_cjk") &&
        col("c_cyr") >= col("c_greek"), "cyrillic")
      .when(col("c_cjk") >= 4 && col("c_cjk") >= col("c_greek"), "cjk")
      .when(col("c_greek") >= 4, "greek")
      .otherwise("latin")
    counted.withColumn("script", script)
      .groupBy(col("lang"), col("script"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("c_cyr")).as("cyr_chars"),
        sum(col("c_cjk")).as("cjk_chars"),
        sum(col("c_greek")).as("greek_chars"))
      .orderBy(col("lang"), col("script"))
  }

  // ------------------------------------------------------- readability

  /** Vowel-group syllable surrogate — ONE constant in both engines. */
  val VowelRe = "[aeiouy]+"

  /** E4: Flesch reading-ease components per document. The corpus has no
    * sentence punctuation, so sentence count is the fixed-width
    * surrogate ⌈words/15⌉ — computed as exact integer arithmetic
    * ((words+14) div 15) so no float crosses the ceil boundary. The
    * score itself is the standard 206.835 − 1.015·(w/s) − 84.6·(syl/w)
    * over exactly-representable integer counts (the oracle casts its
    * DECIMAL literals to DOUBLE so both engines run the identical IEEE
    * expression). Three map-only counts + arithmetic: one narrow
    * projection, no shuffle — the same plan at 100 TB. */
  private val e4Readability: Q = (s, dir) => {
    val words = tokenCount(col("text")).cast("long")
    val syl = regexp_count(col("text"), lit(VowelRe)).cast("long")
    // Spark's Column./ is fractional even on longs — floor to match
    // DuckDB's integral `//`. (w+14)/15 is exact in double for any
    // plausible word count, so the floor boundary is safe.
    val sents = floor((words + lit(14L)) / lit(15L)).cast("long")
    Tables.spread(t(s, dir, "documents")).select(
      col("doc_id"),
      words.as("n_words"),
      syl.as("n_syllables"),
      sents.as("n_sentences"),
      round(lit(206.835)
        - lit(1.015) * words / greatest(sents, lit(1L))
        - lit(84.6) * syl / greatest(words, lit(1L)), 4).as("flesch"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------- RAKE keyword extract

  /** E4: RAKE keyword extraction (Rose et al. 2010) — candidate phrases
    * are maximal stopword-free word runs; within each document a word
    * scores degree/frequency (degree = Σ lengths of phrases containing
    * it) and a phrase scores the sum of its words' scores. Scores are
    * micro-scaled to exact integers (round(10⁶·deg/freq) — within-doc
    * freq < 64 can never land on a .5, see the w8/q11 integer-cents
    * convention) so the cross-engine sum is order-independent. One
    * posexplode then doc-keyed equi-joins/groupBys throughout: linear
    * in corpus size, shuffles keyed on doc_id only — the 100 TB
    * keyword shape. Top-3 per doc keeps its WindowGroupLimit. */
  def rakeTopK(docs: DataFrame, k: Int): DataFrame = {
    val w = docs
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
    val marked = w.withColumn("is_stop",
      col("word").isin(StopWords: _*) || col("word") === "")
    val win = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val phased = marked.withColumn("phrase_id",
      sum(when(col("is_stop"), 1L).otherwise(0L)).over(win))
    // Reused three times below (phrase table, word stats, phrase score).
    val content = phased.filter(!col("is_stop"))
      .select(col("doc_id"), col("phrase_id"), col("pos"), col("word"))
      .localCheckpoint(eager = false)
    val phrases = content.groupBy(col("doc_id"), col("phrase_id")).agg(
      array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("word")))),
        _.getField("word")), " ").as("phrase"),
      count(lit(1)).as("plen"))
    val wordScores = content.join(phrases, Seq("doc_id", "phrase_id"))
      .groupBy(col("doc_id"), col("word"))
      .agg(sum(col("plen")).as("deg"), count(lit(1)).as("freq"))
      .withColumn("wscore_micro",
        round(col("deg") * 1000000.0 / col("freq"), 0).cast("long"))
    val rankW = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_micro").desc, col("phrase"), col("phrase_id"))
    content.join(wordScores, Seq("doc_id", "word"))
      .groupBy(col("doc_id"), col("phrase_id"))
      .agg(sum(col("wscore_micro")).as("score_micro"))
      .join(phrases, Seq("doc_id", "phrase_id"))
      .withColumn("rnk", row_number().over(rankW))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("rnk"), col("phrase"), col("plen"),
        col("score_micro"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  private val e4RakeKeywords: Q = (s, dir) =>
    rakeTopK(Tables.spread(t(s, dir, "documents")), k = 3)

  // -------------------------------------------- ROUGE overlap scoring

  /** E4: ROUGE-1/-2 overlap scoring (Lin 2004) — the reference-vs-
    * hypothesis n-gram metric generation pipelines gate output quality
    * on. Hypothesis = the stopword-stripped document (a deterministic
    * "summary" both engines rebuild identically); reference = the full
    * text. Counts are MULTISET matches with standard clipping
    * (Σ min(count_h, count_r) per gram — exact integers via one
    * doc+gram-keyed join), so precision/recall are exact rationals and
    * F1 is computed from bit-identical doubles. Stopword removal
    * creates NEW bigram adjacencies, so ROUGE-2 precision < 1 and the
    * clipping path does real work. Everything is doc-keyed explode →
    * groupBy → join: linear, the 100 TB eval shape. */
  def rougeScores(input: DataFrame): DataFrame = {
    val docs = input
      .select(col("doc_id"), split(col("text"), " ").as("ref_w"))
      .withColumn("hyp_w",
        filter(col("ref_w"), w => !w.isin(StopWords: _*) && w =!= ""))
    def grams(wordsCol: String, n: Int, side: String) = {
      val w = col(wordsCol)
      // Guard: Spark's sequence(1, 0) DESCENDS — an under-n-word list
      // must yield an empty gram array, not [1,0]-indexed garbage.
      val g =
        if (n == 1) w
        else when(size(w) >= n,
          transform(sequence(lit(1), size(w) - (n - 1)),
            i => concat_ws(" ", slice(w, i, lit(n)))))
          .otherwise(array().cast("array<string>"))
      docs.select(col("doc_id"), explode(g).as("gram"))
        .filter(col("gram") =!= "")
        .groupBy(col("doc_id"), col("gram"))
        .agg(count(lit(1)).as(s"c_$side"))
    }
    def rouge(n: Int, tag: String) = {
      val h = grams("hyp_w", n, "h")
      val r = grams("ref_w", n, "r")
      val m = h.join(r, Seq("doc_id", "gram"))
        .groupBy(col("doc_id"))
        .agg(sum(least(col("c_h"), col("c_r"))).as("m"))
      val ht = h.groupBy(col("doc_id")).agg(sum(col("c_h")).as("ht"))
      val rt = r.groupBy(col("doc_id")).agg(sum(col("c_r")).as("rt"))
      ht.join(rt, Seq("doc_id")).join(m, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("m"), lit(0L)).as(s"m$tag"),
          col("ht").as(s"h$tag"), col("rt").as(s"r$tag"),
          round(coalesce(col("m"), lit(0L)) / col("ht").cast("double"), 4)
            .as(s"p$tag"),
          round(coalesce(col("m"), lit(0L)) / col("rt").cast("double"), 4)
            .as(s"rec$tag"))
    }
    rouge(1, "1").join(rouge(2, "2"), Seq("doc_id"))
      .withColumn("f2", round(
        when(col("p2") + col("rec2") > 0,
          lit(2.0) * col("p2") * col("rec2") / (col("p2") + col("rec2")))
          .otherwise(0.0), 4))
      .orderBy(col("doc_id"))
  }

  private val e4Rouge: Q = (s, dir) =>
    rougeScores(Tables.spread(t(s, dir, "documents")).filter(col("doc_id") % 4 === 0))

  // --------------------------------------- distribution drift (JSD)

  /** E4: Jensen–Shannon divergence between per-source unigram
    * distributions — the corpus-drift monitor a pipeline runs when a
    * new crawl lands ("did src17 change under us?"). JSD(P,Q) =
    * ½KL(P‖M) + ½KL(Q‖M), M = (P+Q)/2, in NATS (plain `ln` on both
    * engines — log2 built-ins differ more than an ulp). Probabilities
    * are exact count/total doubles; each word's contribution rounds to
    * a nano-int before the sum, so engine `ln` ulp differences and
    * addition order can't move the result. Pair expansion is a UNION
    * of two equi-joins (never an OR-condition nested loop); everything
    * else is (pair, word)-keyed — linear in sources²·vocab, which is a
    * dimension table, not the corpus. */
  def jsdPairs(docs: DataFrame): DataFrame = {
    val words = docs
      .select(col("source").as("src"),
        explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
    val counts = words.groupBy(col("src"), col("word"))
      .agg(count(lit(1)).as("c"))
    val totals = words.groupBy(col("src")).agg(count(lit(1)).as("tot"))
    val dist = counts.join(totals, Seq("src"))
      .select(col("src"), col("word"),
        (col("c").cast("double") / col("tot")).as("p"))
      .localCheckpoint(eager = false)
    val srcs = dist.select(col("src")).distinct()
    val pairs = srcs.select(col("src").as("src_a"))
      .join(srcs.select(col("src").as("src_b")),
        col("src_a") < col("src_b"))
    val sideA = pairs.join(dist.withColumnRenamed("src", "src_a"),
      Seq("src_a")).select(col("src_a"), col("src_b"), col("word"),
      col("p").as("pa"), lit(null).cast("double").as("pb"))
    val sideB = pairs.join(dist.withColumnRenamed("src", "src_b"),
      Seq("src_b")).select(col("src_a"), col("src_b"), col("word"),
      lit(null).cast("double").as("pa"), col("p").as("pb"))
    val grid = sideA.unionByName(sideB)
      .groupBy(col("src_a"), col("src_b"), col("word"))
      .agg(coalesce(max(col("pa")), lit(0.0)).as("p"),
        coalesce(max(col("pb")), lit(0.0)).as("q"))
    val m = col("p") + col("q")
    val term = lit(0.5) *
      (when(col("p") > 0, col("p") * log(lit(2.0) * col("p") / m))
        .otherwise(0.0) +
       when(col("q") > 0, col("q") * log(lit(2.0) * col("q") / m))
        .otherwise(0.0))
    grid.withColumn("term_nano",
        round(term * 1000000000.0, 0).cast("long"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("term_nano")).as("jsd_nano"))
      .withColumn("jsd", round(col("jsd_nano") / 1000000000.0, 6))
      .orderBy(col("src_a"), col("src_b"))
  }

  private val e4Jsd: Q = (s, dir) => jsdPairs(Tables.spread(t(s, dir, "documents")))

  /** One unrolled BPE round: arg-max pair of round k, then the merged
    * symbol table s_k — same delimiter-owned double-space
    * representation as [[bpeMerges]] (replace shares
    * leftmost-non-overlap semantics with Spark's `replace`). */
  private def bpeRound(k: Int, carry: String = ""): String = {
    val prev = s"s${k - 1}"
    s"""p$k AS (
       |  SELECT pair, cnt FROM (
       |    SELECT l[i] || ' ' || l[i + 1] AS pair, sum(n)::BIGINT AS cnt
       |    FROM (SELECT string_split(trim(seq), '  ') AS l, n FROM $prev),
       |      unnest(range(1, len(l))) AS t(i)
       |    GROUP BY pair)
       |  ORDER BY cnt DESC, pair LIMIT 1),
       |s$k AS (
       |  SELECT ${carry}replace(seq,
       |    ' ' || replace((SELECT pair FROM p$k), ' ', '  ') || ' ',
       |    ' ' || replace((SELECT pair FROM p$k), ' ', '') || ' ') AS seq, n
       |  FROM $prev)""".stripMargin
  }

  /** `len(list_filter(...))` score for one language's markers — the
    * oracle half of [[languageIdHeuristic]], from the same constant. */
  private def langScoreSql(ms: Seq[String]): String =
    s"""len(list_filter(string_split(lower(text), ' '),
       |      x -> x IN (${ms.map("'" + _ + "'").mkString(", ")})))""".stripMargin

  /** The oracle argmax as a zero-padded score-string `greatest` —
    * struct comparison replicated, shared by every langid oracle. */
  private[graft] def langidBestSql: String =
    s"""greatest(${langMarkers.map { case (tag, ms) =>
         s"lpad((${langScoreSql(ms)})::VARCHAR, 6, '0') || '$tag'"
       }.mkString(",\n      ")})"""

  /** Decode [[langidBestSql]]'s winner back to a tag ('und' on zero). */
  private[graft] val langidPredSql: String =
    """CASE WHEN substr(best, 1, 6) <> '000000'
      |         THEN substr(best, 7, 2) ELSE 'und' END""".stripMargin

  /** Stopword list as a SQL IN-list — ONE constant, both engines. */
  private def stopSql: String = StopWords.map(w => s"'$w'").mkString(",")

  /** One unigram-LM EM round in DuckDB: segmentation enumeration as a
    * recursive CTE (every path prefix a row, score accumulated in the
    * SAME prefix order the native expression multiplies in), argmax
    * per word on the identical (score DESC, pieces ASC, seg ASC) total
    * order, hard counts, and the chars-persist / top-K-multi pruning.
    * Round k reads probabilities from round k−1's `up` table; every
    * round runs over the distinct-word counts (the apply oracle adds a
    * third round under the final probabilities). */
  private def uniRound(k: Int): String =
    s"""useg$k(w, n, pos, score, np, seg) AS (
       |  SELECT w, n, 0::BIGINT, 1.0::DOUBLE, 0::BIGINT, '' FROM uwc
       |  UNION ALL
       |  SELECT r.w, r.n, r.pos + len(p.piece), r.score * p.p, r.np + 1,
       |    CASE WHEN r.seg = '' THEN p.piece
       |         ELSE r.seg || ' ' || p.piece END
       |  FROM useg$k r JOIN up${k - 1} p
       |    ON substr(r.w, (r.pos + 1)::INT, len(p.piece)::INT) = p.piece),
       |ubest$k AS (
       |  SELECT w, n, seg FROM (
       |    SELECT w, n, seg, row_number() OVER (PARTITION BY w
       |      ORDER BY score DESC, np, seg) AS rn
       |    FROM useg$k WHERE pos = len(w))
       |  WHERE rn = 1),
       |uc$k AS (
       |  SELECT piece, sum(n)::BIGINT AS cnt FROM (
       |    SELECT n, unnest(string_split(seg, ' ')) AS piece
       |    FROM ubest$k)
       |  GROUP BY piece),
       |ukept$k AS (
       |  SELECT s.piece, coalesce(c.cnt, 0)::BIGINT AS cnt
       |  FROM (SELECT piece FROM useed WHERE len(piece) = 1) s
       |  LEFT JOIN uc$k c ON c.piece = s.piece
       |  UNION ALL
       |  SELECT piece, cnt FROM (
       |    SELECT piece, cnt FROM uc$k WHERE len(piece) >= 2 AND cnt > 0
       |    ORDER BY cnt DESC, piece LIMIT $UniKeep)),
       |up$k AS (
       |  SELECT piece, cnt::DOUBLE /
       |    (SELECT sum(cnt)::BIGINT FROM ukept$k)::DOUBLE AS p
       |  FROM ukept$k)""".stripMargin

  /** Shared train chain: word counts → substring seed → two EM rounds
    * (hard counts, chars persist, top-$UniKeep multi). */
  private def uniChainSql: String =
    s"""uwc AS (
       |  SELECT w, count(*)::BIGINT AS n FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w <> '' AND len(w) <= $UniMaxWord GROUP BY w),
       |ucand AS (
       |  SELECT substr(w, i::INT, l::INT) AS piece, sum(n)::BIGINT AS cnt
       |  FROM uwc,
       |    unnest(range(1, len(w) + 1)) AS t(i),
       |    unnest(range(1, least($UniMaxLen, len(w) - i + 1) + 1)) AS u(l)
       |  GROUP BY 1),
       |useed AS (
       |  SELECT piece, cnt FROM ucand WHERE len(piece) = 1
       |  UNION ALL
       |  SELECT piece, cnt FROM (
       |    SELECT piece, cnt FROM ucand WHERE len(piece) >= 2
       |    ORDER BY cnt DESC, piece LIMIT $UniSeed)),
       |up0 AS (
       |  SELECT piece, cnt::DOUBLE /
       |    (SELECT sum(cnt)::BIGINT FROM useed)::DOUBLE AS p
       |  FROM useed),
       |${uniRound(1)},
       |${uniRound(2)}""".stripMargin

  val queries: Seq[Query] = Seq(
    // The full unigram-LM derivation restated: seed, both EM rounds
    // (recursive-CTE path enumeration, identical argmax order), the
    // pruning, and the integer-ppm probabilities.
    Query("e4_unigram_lm", e4UnigramLm,
      s"""WITH RECURSIVE
         |$uniChainSql
         |SELECT piece, cnt,
         |  (cnt * 1000000) //
         |    (SELECT sum(cnt)::BIGINT FROM ukept2) AS prob_ppm
         |FROM ukept2 ORDER BY piece""".stripMargin),
    // The apply rollup: one more segmentation pass (round 3 under the
    // final up2 probabilities) sized per distinct word, joined back to
    // the per-language word stream.
    Query("e4_unigram_apply", e4UnigramApply,
      s"""WITH RECURSIVE
         |$uniChainSql,
         |${uniRound(3)},
         |unseg AS (
         |  SELECT w, len(string_split(seg, ' '))::BIGINT AS nseg
         |  FROM ubest3),
         |uwords AS (
         |  SELECT lang, w FROM (
         |    SELECT lang, unnest(string_split(text, ' ')) AS w
         |    FROM documents)
         |  WHERE w <> '')
         |SELECT lang, count(*)::BIGINT AS n_words,
         |  sum(CASE WHEN len(w) <= $UniMaxWord THEN s.nseg
         |           ELSE strlen(w) END)::BIGINT AS sum_tokens
         |FROM uwords u LEFT JOIN unseg s USING (w)
         |GROUP BY lang ORDER BY lang""".stripMargin),
    // WordPiece: vocab re-derived from the SAME unigram train chain
    // (one ukept2 reference — the ×2 continuation forms come from a
    // 2-row unnest cross join, NOT a self-UNION, or DuckDB would
    // inline the whole EM chain twice); the greedy walk is a
    // single-path recursive CTE — at each reached position exactly one
    // successor row survives the NOT-EXISTS-longer guard, raw-match
    // semantics identical to the native expression's (word-initial
    // lookups are RAW substrings; continuations match under '##').
    // A word whose walk never reaches len(w) is one [UNK] token.
    Query("e4_wordpiece_apply", e4WordpieceApply,
      s"""WITH RECURSIVE
         |$uniChainSql,
         |vocab AS (
         |  SELECT DISTINCT
         |    CASE WHEN t.i = 0 THEN piece ELSE '##' || piece END AS piece
         |  FROM ukept2, unnest([0, 1]) AS t(i)),
         |dwords AS (
         |  SELECT DISTINCT w FROM (
         |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |  WHERE w <> ''),
         |walk(w, pos, ntok) AS (
         |  SELECT w, 0::BIGINT, 0::BIGINT FROM dwords
         |  UNION ALL
         |  SELECT r.w,
         |    r.pos + (CASE WHEN r.pos = 0 THEN len(v.piece)
         |             ELSE len(v.piece) - 2 END)::BIGINT,
         |    r.ntok + 1
         |  FROM walk r JOIN vocab v ON r.pos < len(r.w) AND
         |    (CASE WHEN r.pos = 0
         |     THEN substr(r.w, 1, len(v.piece)) = v.piece
         |     ELSE v.piece LIKE '##%' AND
         |       substr(r.w, (r.pos + 1)::INT, len(v.piece) - 2) =
         |         substr(v.piece, 3) END)
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM vocab v2
         |    WHERE (CASE WHEN r.pos = 0
         |           THEN substr(r.w, 1, len(v2.piece)) = v2.piece
         |           ELSE v2.piece LIKE '##%' AND
         |             substr(r.w, (r.pos + 1)::INT, len(v2.piece) - 2) =
         |               substr(v2.piece, 3) END)
         |      AND (CASE WHEN r.pos = 0 THEN len(v2.piece)
         |           ELSE len(v2.piece) - 2 END) >
         |          (CASE WHEN r.pos = 0 THEN len(v.piece)
         |           ELSE len(v.piece) - 2 END))),
         |seg AS (SELECT w, ntok FROM walk WHERE pos = len(w)),
         |wtok AS (
         |  SELECT d.w, coalesce(s.ntok, 1)::BIGINT AS ntok,
         |    (s.ntok IS NULL) AS unk
         |  FROM dwords d LEFT JOIN seg s USING (w)),
         |uwords AS (
         |  SELECT lang, w FROM (
         |    SELECT lang, unnest(string_split(text, ' ')) AS w
         |    FROM documents)
         |  WHERE w <> '')
         |SELECT lang, count(*)::BIGINT AS n_words,
         |  sum(t.ntok)::BIGINT AS sum_tokens,
         |  sum(CASE WHEN t.unk THEN 1 ELSE 0 END)::BIGINT AS n_unk
         |FROM uwords u JOIN wtok t USING (w)
         |GROUP BY lang ORDER BY lang""".stripMargin),
    // Same integer sentence surrogate, same IEEE double expression —
    // the DECIMAL literals are cast to DOUBLE so DuckDB's exact-decimal
    // arithmetic can't diverge from Spark's double math.
    Query("e4_readability", e4Readability,
      s"""SELECT doc_id,
         |  len(string_split(text, ' '))::BIGINT AS n_words,
         |  len(regexp_extract_all(text, '$VowelRe'))::BIGINT
         |    AS n_syllables,
         |  ((len(string_split(text, ' ')) + 14) // 15)::BIGINT
         |    AS n_sentences,
         |  round(206.835::DOUBLE
         |    - 1.015::DOUBLE * n_words / greatest(n_sentences, 1)
         |    - 84.6::DOUBLE * n_syllables / greatest(n_words, 1), 4)
         |    AS flesch
         |FROM documents ORDER BY doc_id""".stripMargin),
    // Same nats-JSD with per-word nano-int rounding before the sum —
    // ln-ulp differences and addition order can't move the hash; the
    // jsd display column derives from the summed ints, not raw floats.
    Query("e4_jsd", e4Jsd,
      """WITH w AS (
        |  SELECT source AS src, g.word
        |  FROM documents, unnest(string_split(text, ' ')) AS g(word)
        |  WHERE g.word <> ''),
        |counts AS (
        |  SELECT src, word, count(*) AS c FROM w GROUP BY src, word),
        |totals AS (SELECT src, count(*) AS tot FROM w GROUP BY src),
        |dist AS (
        |  SELECT c.src, c.word, c.c::DOUBLE / t.tot AS p
        |  FROM counts c JOIN totals t USING (src)),
        |srcs AS (SELECT DISTINCT src FROM dist),
        |pairs AS (
        |  SELECT a.src AS src_a, b.src AS src_b
        |  FROM srcs a, srcs b WHERE a.src < b.src),
        |grid AS (
        |  SELECT src_a, src_b, word,
        |    coalesce(max(pa), 0.0) AS p, coalesce(max(pb), 0.0) AS q
        |  FROM (
        |    SELECT pr.src_a, pr.src_b, d.word, d.p AS pa,
        |      NULL::DOUBLE AS pb
        |    FROM pairs pr JOIN dist d ON d.src = pr.src_a
        |    UNION ALL
        |    SELECT pr.src_a, pr.src_b, d.word, NULL::DOUBLE, d.p
        |    FROM pairs pr JOIN dist d ON d.src = pr.src_b) u
        |  GROUP BY src_a, src_b, word),
        |terms AS (
        |  SELECT src_a, src_b,
        |    round(0.5::DOUBLE * (
        |      CASE WHEN p > 0 THEN p * ln(2.0::DOUBLE * p / (p + q))
        |           ELSE 0.0 END +
        |      CASE WHEN q > 0 THEN q * ln(2.0::DOUBLE * q / (p + q))
        |           ELSE 0.0 END) * 1e9, 0)::BIGINT AS term_nano
        |  FROM grid)
        |SELECT src_a, src_b, count(*)::BIGINT AS n_words,
        |  sum(term_nano)::BIGINT AS jsd_nano,
        |  round(sum(term_nano)::DOUBLE / 1e9, 6) AS jsd
        |FROM terms GROUP BY src_a, src_b
        |ORDER BY src_a, src_b""".stripMargin),
    // Full restatement: same stopword-stripped hypothesis, same
    // multiset clipping (Σ least of per-gram counts), same inner-join
    // drop of gram-less docs, F1 computed from the ROUNDED p2/rec2.
    Query("e4_rouge", e4Rouge,
      s"""WITH d AS (
         |  SELECT doc_id, string_split(text, ' ') AS ref_w,
         |    list_filter(string_split(text, ' '),
         |      w -> w NOT IN ($stopSql) AND w <> '') AS hyp_w
         |  FROM documents WHERE doc_id % 4 = 0),
         |h1 AS (
         |  SELECT doc_id, g.gram, count(*) AS c_h
         |  FROM d, unnest(hyp_w) AS g(gram)
         |  WHERE g.gram <> '' GROUP BY doc_id, g.gram),
         |r1 AS (
         |  SELECT doc_id, g.gram, count(*) AS c_r
         |  FROM d, unnest(ref_w) AS g(gram)
         |  WHERE g.gram <> '' GROUP BY doc_id, g.gram),
         |h2 AS (
         |  SELECT doc_id, gram, count(*) AS c_h FROM (
         |    SELECT doc_id, hyp_w[i::INT] || ' ' || hyp_w[(i+1)::INT]
         |      AS gram
         |    FROM d, unnest(range(1, greatest(len(hyp_w) - 1, 0) + 1))
         |      AS t(i)) g
         |  WHERE gram <> '' GROUP BY doc_id, gram),
         |r2 AS (
         |  SELECT doc_id, gram, count(*) AS c_r FROM (
         |    SELECT doc_id, ref_w[i::INT] || ' ' || ref_w[(i+1)::INT]
         |      AS gram
         |    FROM d, unnest(range(1, greatest(len(ref_w) - 1, 0) + 1))
         |      AS t(i)) g
         |  WHERE gram <> '' GROUP BY doc_id, gram),
         |m1 AS (
         |  SELECT doc_id, sum(least(c_h, c_r)) AS m
         |  FROM h1 JOIN r1 USING (doc_id, gram) GROUP BY doc_id),
         |m2 AS (
         |  SELECT doc_id, sum(least(c_h, c_r)) AS m
         |  FROM h2 JOIN r2 USING (doc_id, gram) GROUP BY doc_id),
         |t1 AS (
         |  SELECT a.doc_id, a.ht, b.rt FROM
         |    (SELECT doc_id, sum(c_h) AS ht FROM h1 GROUP BY doc_id) a
         |    JOIN (SELECT doc_id, sum(c_r) AS rt FROM r1
         |          GROUP BY doc_id) b USING (doc_id)),
         |t2 AS (
         |  SELECT a.doc_id, a.ht, b.rt FROM
         |    (SELECT doc_id, sum(c_h) AS ht FROM h2 GROUP BY doc_id) a
         |    JOIN (SELECT doc_id, sum(c_r) AS rt FROM r2
         |          GROUP BY doc_id) b USING (doc_id)),
         |s1 AS (
         |  SELECT t1.doc_id, coalesce(m1.m, 0)::BIGINT AS m1,
         |    t1.ht::BIGINT AS h1, t1.rt::BIGINT AS r1,
         |    round(coalesce(m1.m, 0) / t1.ht::DOUBLE, 4) AS p1,
         |    round(coalesce(m1.m, 0) / t1.rt::DOUBLE, 4) AS rec1
         |  FROM t1 LEFT JOIN m1 USING (doc_id)),
         |s2 AS (
         |  SELECT t2.doc_id, coalesce(m2.m, 0)::BIGINT AS m2,
         |    t2.ht::BIGINT AS h2, t2.rt::BIGINT AS r2,
         |    round(coalesce(m2.m, 0) / t2.ht::DOUBLE, 4) AS p2,
         |    round(coalesce(m2.m, 0) / t2.rt::DOUBLE, 4) AS rec2
         |  FROM t2 LEFT JOIN m2 USING (doc_id))
         |SELECT s1.doc_id, s1.m1, s1.h1, s1.r1, s1.p1, s1.rec1,
         |  s2.m2, s2.h2, s2.r2, s2.p2, s2.rec2,
         |  round(CASE WHEN s2.p2 + s2.rec2 > 0
         |    THEN 2.0 * s2.p2 * s2.rec2 / (s2.p2 + s2.rec2)
         |    ELSE 0.0 END, 4) AS f2
         |FROM s1 JOIN s2 USING (doc_id) ORDER BY s1.doc_id""".stripMargin),
    // Full RAKE restatement: same stopword boundaries (running-count
    // phrase ids over unique positions — identical default window
    // frames), same micro-int word scores, same tie order.
    Query("e4_rake_keywords", e4RakeKeywords,
      s"""WITH w AS (
         |  SELECT d.doc_id, i - 1 AS pos, d.l[i::INT] AS word,
         |    (d.l[i::INT] IN ($stopSql) OR d.l[i::INT] = '') AS is_stop
         |  FROM (SELECT doc_id, string_split(text, ' ') AS l
         |        FROM documents) d,
         |    unnest(range(1, len(d.l) + 1)) AS t(i)),
         |ph AS (
         |  SELECT doc_id, pos, word, is_stop,
         |    sum(CASE WHEN is_stop THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY pos) AS phrase_id
         |  FROM w),
         |content AS (
         |  SELECT doc_id, phrase_id, pos, word FROM ph WHERE NOT is_stop),
         |phrases AS (
         |  SELECT doc_id, phrase_id,
         |    string_agg(word, ' ' ORDER BY pos) AS phrase,
         |    count(*) AS plen
         |  FROM content GROUP BY doc_id, phrase_id),
         |ws AS (
         |  SELECT c.doc_id, c.word,
         |    round(sum(p.plen) * 1e6 / count(*), 0)::BIGINT
         |      AS wscore_micro
         |  FROM content c JOIN phrases p USING (doc_id, phrase_id)
         |  GROUP BY c.doc_id, c.word),
         |sc AS (
         |  SELECT c.doc_id, c.phrase_id,
         |    sum(s.wscore_micro)::BIGINT AS score_micro
         |  FROM content c
         |  JOIN ws s ON s.doc_id = c.doc_id AND s.word = c.word
         |  GROUP BY c.doc_id, c.phrase_id),
         |rk AS (
         |  SELECT s.doc_id, p.phrase, p.plen::BIGINT AS plen,
         |    s.score_micro,
         |    row_number() OVER (PARTITION BY s.doc_id
         |      ORDER BY s.score_micro DESC, p.phrase, s.phrase_id) AS rnk
         |  FROM sc s JOIN phrases p USING (doc_id, phrase_id))
         |SELECT doc_id, rnk, phrase, plen, score_micro
         |FROM rk WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin),
    // Same plants (interpolated verbatim), same class constants, same
    // threshold + tie-break — argmax restated as the ordered CASE.
    Query("e4_script_id", e4ScriptId,
      s"""WITH planted AS (
         |  SELECT lang, text ||
         |    (CASE WHEN doc_id % 5 = 0 THEN ' $CyrSnippet'
         |          ELSE '' END) ||
         |    (CASE WHEN doc_id % 7 = 0 THEN ' $CjkSnippet'
         |          ELSE '' END) ||
         |    (CASE WHEN doc_id % 11 = 0 THEN ' $GreekSnippet'
         |          ELSE '' END) AS text
         |  FROM documents),
         |c AS (
         |  SELECT lang,
         |    len(regexp_extract_all(text, '$CyrillicRe'))::BIGINT AS c_cyr,
         |    len(regexp_extract_all(text, '$CjkRe'))::BIGINT AS c_cjk,
         |    len(regexp_extract_all(text, '$GreekRe'))::BIGINT AS c_greek
         |  FROM planted)
         |SELECT lang,
         |  CASE WHEN c_cyr >= 4 AND c_cyr >= c_cjk AND c_cyr >= c_greek
         |       THEN 'cyrillic'
         |       WHEN c_cjk >= 4 AND c_cjk >= c_greek THEN 'cjk'
         |       WHEN c_greek >= 4 THEN 'greek'
         |       ELSE 'latin' END AS script,
         |  count(*)::BIGINT AS n_docs, sum(c_cyr)::BIGINT AS cyr_chars,
         |  sum(c_cjk)::BIGINT AS cjk_chars,
         |  sum(c_greek)::BIGINT AS greek_chars
         |FROM c GROUP BY lang, script ORDER BY lang, script""".stripMargin),
    Query("e4_langid", e4Langid,
      s"""WITH p AS (
         |  SELECT lang, $langidBestSql AS best
         |  FROM documents),
         |cm AS (
         |  SELECT lang,
         |    $langidPredSql AS pred,
         |    count(*)::BIGINT AS n
         |  FROM p GROUP BY 1, 2)
         |SELECT lang, pred, n,
         |  round(n / sum(n) OVER (PARTITION BY lang), 4) AS share
         |FROM cm ORDER BY lang, pred""".stripMargin),
    // Plant and heuristic-argmax restated from the same constants;
    // n_test / n_heur_correct are exact integers. The trained side's
    // floats are engine-specific → in-plan ✱ booleans.
    Query("e4_langid_trained", e4LangidTrained,
      s"""WITH d AS (
         |  SELECT doc_id, lang, $plantedTextSql AS text
         |  FROM documents WHERE doc_id % 5 = 0),
         |p AS (
         |  SELECT lang, $langidBestSql AS best FROM d)
         |SELECT count(*)::BIGINT AS n_test,
         |  sum(CASE WHEN ($langidPredSql) = lang
         |      THEN 1 ELSE 0 END)::BIGINT AS n_heur_correct,
         |  true AS trained_beats_heuristic,
         |  true AS trained_acc_ok,
         |  true AS loss_dropped
         |FROM p""".stripMargin),
    Query("e4_backoff_lm", e4BackoffLm,
      """WITH tr AS (
        |  SELECT string_split(text, ' ') AS l FROM documents
        |  WHERE doc_id % 3 <> 0),
        |pb AS (
        |  SELECT doc_id, string_split(text, ' ') AS l FROM documents
        |  WHERE doc_id % 3 = 0),
        |t3 AS (
        |  SELECT l[i] AS w1, l[i + 1] AS w2, l[i + 2] AS w3
        |  FROM tr, unnest(range(1, len(l) - 1)) AS t(i)
        |  WHERE len(l) >= 3),
        |c3 AS (SELECT w1, w2, w3, count(*)::BIGINT AS c3 FROM t3
        |       GROUP BY w1, w2, w3),
        |ch3 AS (SELECT w1, w2, sum(c3)::BIGINT AS ch3 FROM c3
        |        GROUP BY w1, w2),
        |b2 AS (
        |  SELECT l[i] AS w2, l[i + 1] AS w3
        |  FROM tr, unnest(range(1, len(l))) AS t(i)
        |  WHERE len(l) >= 2),
        |c2 AS (SELECT w2, w3, count(*)::BIGINT AS c2 FROM b2
        |       GROUP BY w2, w3),
        |ch2 AS (SELECT w2, sum(c2)::BIGINT AS ch2 FROM c2 GROUP BY w2),
        |u1 AS (SELECT unnest(l) AS w3 FROM tr),
        |c1 AS (SELECT w3, count(*)::BIGINT AS c1 FROM u1 GROUP BY w3),
        |nv AS (SELECT count(*)::BIGINT AS n,
        |         count(DISTINCT w3)::BIGINT AS v FROM u1),
        |p3 AS (
        |  SELECT doc_id, l[i] AS w1, l[i + 1] AS w2, l[i + 2] AS w3
        |  FROM pb, unnest(range(1, len(l) - 1)) AS t(i)
        |  WHERE len(l) >= 3),
        |ty AS (SELECT DISTINCT w1, w2, w3 FROM p3),
        |sc AS (
        |  SELECT ty.w1, ty.w2, ty.w3,
        |    round(-ln(CASE WHEN c3.c3 IS NOT NULL
        |      THEN c3.c3::DOUBLE / ch3.ch3
        |      ELSE 0.4 * (CASE WHEN c2.c2 IS NOT NULL
        |        THEN c2.c2::DOUBLE / ch2.ch2
        |        ELSE 0.4 * ((coalesce(c1.c1, 0) + 1)::DOUBLE
        |          / (nv.n + nv.v)) END) END), 6) AS nll,
        |    (c3.c3 IS NOT NULL) AS tri_hit
        |  FROM ty
        |  LEFT JOIN c3 USING (w1, w2, w3)
        |  LEFT JOIN ch3 USING (w1, w2)
        |  LEFT JOIN c2 USING (w2, w3)
        |  LEFT JOIN ch2 USING (w2)
        |  LEFT JOIN c1 USING (w3)
        |  CROSS JOIN nv)
        |SELECT p3.doc_id, count(*)::BIGINT AS n_trigrams,
        |  sum(CASE WHEN tri_hit THEN 1 ELSE 0 END)::BIGINT AS n_tri_hits,
        |  sum(CASE WHEN tri_hit THEN 0 ELSE 1 END)::BIGINT AS n_backoffs,
        |  sum(round(nll * 1e6)::BIGINT)::BIGINT AS sum_nll_micro
        |FROM p3 JOIN sc USING (w1, w2, w3)
        |GROUP BY p3.doc_id ORDER BY p3.doc_id""".stripMargin),
    Query("e4_bigram_lm", e4BigramLm,
      """WITH ws AS (
        |  SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |bg AS (
        |  SELECT doc_id, l[i] AS w1, l[i + 1] AS w2
        |  FROM ws, unnest(range(1, len(l))) AS t(i)
        |  WHERE len(l) >= 2),
        |cb AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY w1, w2),
        |ch AS (SELECT w1, sum(cb) AS ch FROM cb GROUP BY w1),
        |v AS (SELECT count(DISTINCT w) AS v FROM (
        |  SELECT unnest(string_split(text, ' ')) AS w FROM documents)),
        |lm AS (
        |  SELECT w1, w2,
        |    round(-ln((cb + 0.5) / (ch + 0.5 * v)), 6) AS nll
        |  FROM cb JOIN ch USING (w1), v)
        |SELECT b.doc_id, count(*)::BIGINT AS n_bigrams,
        |  round(avg(l.nll), 4) AS avg_nll
        |FROM bg b JOIN lm l USING (w1, w2)
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin),
    // Winnowing recomputed verbatim: k=8, w=6, 64-bit (16-hex-char)
    // sha-256-prefix gram hashes, window min over a 6-row frame, full
    // windows only.
    Query("e4_winnow", e4Winnow,
      """WITH g AS (
        |  SELECT doc_id, i - 1 AS pos, length(text) AS len,
        |    substr(sha256(substr(text, i::INT, 8)), 1, 16) AS h
        |  FROM documents,
        |    unnest(range(1, greatest(length(text) - 7, 0) + 1)) AS t(i)
        |  WHERE length(text) >= 13),
        |m AS (
        |  SELECT doc_id, pos, len,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |                 ROWS BETWEEN CURRENT ROW AND 5 FOLLOWING) AS fp
        |  FROM g)
        |SELECT DISTINCT doc_id, fp FROM m
        |WHERE pos <= len - 13
        |ORDER BY doc_id, fp""".stripMargin),
    // Re-learn the merge table (same chain as e4_bpe, carrying w),
    // re-apply it per distinct word, roll token counts up per doc and
    // language — value-checks the native encoder end to end.
    Query("e4_bpe_apply", e4BpeApply,
      s"""WITH wc AS (
         |  SELECT w, count(*)::BIGINT AS n FROM (
         |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |  WHERE w <> '' GROUP BY w),
         |s0 AS (
         |  SELECT w, ' ' || trim(regexp_replace(w, '(.)', '\\1  ', 'g')) || ' '
         |    AS seq, n
         |  FROM wc),
         |${(1 to 5).map(k => bpeRound(k, "w, ")).mkString(",\n")},
         |tok AS (
         |  SELECT w, len(string_split(trim(seq), '  '))::BIGINT AS t
         |  FROM s5),
         |dw AS (
         |  SELECT doc_id, w FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |    FROM documents)
         |  WHERE w <> ''),
         |perdoc AS (
         |  SELECT d.doc_id, d.lang, coalesce(sum(tok.t), 0)::BIGINT AS t
         |  FROM documents d
         |  LEFT JOIN dw ON d.doc_id = dw.doc_id
         |  LEFT JOIN tok ON dw.w = tok.w
         |  GROUP BY d.doc_id, d.lang)
         |SELECT lang, count(*)::BIGINT AS n_docs,
         |  sum(t)::BIGINT AS sum_tokens,
         |  round(avg(t), 4) AS avg_tokens
         |FROM perdoc GROUP BY lang ORDER BY lang""".stripMargin),
    Query("e4_bpe", e4Bpe,
      s"""WITH wc AS (
         |  SELECT w, count(*)::BIGINT AS n FROM (
         |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |  WHERE w <> '' GROUP BY w),
         |s0 AS (
         |  SELECT ' ' || trim(regexp_replace(w, '(.)', '\\1  ', 'g')) || ' '
         |    AS seq, n
         |  FROM wc),
         |${(1 to 5).map(k => bpeRound(k)).mkString(",\n")}
         |${(1 to 5).map(k =>
            s"SELECT $k AS round, pair, replace(pair, ' ', '') AS merged, cnt FROM p$k")
            .mkString("\nUNION ALL\n")}
         |ORDER BY round""".stripMargin),
    Query("e4_entropy", e4Entropy,
      """WITH w AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, w, count(*)::DOUBLE AS c
        |  FROM w WHERE w <> '' GROUP BY doc_id, lang, w),
        |e AS (
        |  SELECT doc_id, lang,
        |    round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 4) AS h
        |  FROM c GROUP BY doc_id, lang)
        |SELECT lang, count(*)::BIGINT AS n_docs,
        |  round(avg(h), 4) AS avg_entropy,
        |  round(min(h), 4) AS min_entropy,
        |  round(max(h), 4) AS max_entropy
        |FROM e GROUP BY lang ORDER BY lang""".stripMargin),
    Query("e4_pmi", e4Pmi,
      """WITH ws AS (SELECT string_split(text, ' ') AS l FROM documents),
        |uni AS (SELECT unnest(l) AS w FROM ws),
        |uc AS (SELECT w, count(*)::DOUBLE AS c FROM uni GROUP BY w),
        |n1 AS (SELECT count(*)::DOUBLE AS n1 FROM uni),
        |bg AS (
        |  SELECT unnest(list_transform(
        |    range(1, greatest(len(l) - 1, 0) + 1),
        |    i -> l[i] || ' ' || l[i+1])) AS b
        |  FROM ws),
        |n2 AS (SELECT count(*)::DOUBLE AS n2 FROM bg),
        |bc AS (
        |  SELECT split_part(b, ' ', 1) AS w1, split_part(b, ' ', 2) AS w2,
        |    count(*)::DOUBLE AS c12
        |  FROM bg GROUP BY b HAVING count(*) >= 5)
        |SELECT w1, w2, c12::BIGINT AS pair_count,
        |  round(ln(c12 * n1 * n1 / (n2 * u1.c * u2.c)), 6) AS pmi
        |FROM bc CROSS JOIN n1 CROSS JOIN n2
        |JOIN uc u1 ON bc.w1 = u1.w
        |JOIN uc u2 ON bc.w2 = u2.w
        |ORDER BY pmi DESC, w1, w2 LIMIT 40""".stripMargin),
    Query("e4_text_stats", e4TextStats,
      """SELECT lang, count(*) AS n_docs,
        | round(avg(n_chars), 4) AS avg_chars,
        | round(avg(len(string_split(text, ' '))), 4) AS avg_words,
        | round(avg(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))), 4) AS avg_tokens,
        | count(DISTINCT source) AS n_sources,
        | round(avg(CASE WHEN n_chars < 100 THEN 1.0 ELSE 0.0 END), 4) AS short_ratio,
        | round(avg(len(list_filter(string_split(text, ' '),
        |   w -> w IN ('the','a','of','and','to')))::DOUBLE
        |   / greatest(len(string_split(text, ' ')), 1)), 4) AS avg_stop_ratio
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
    Query("e4_tfidf", e4Tfidf,
      """WITH wds AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |  FROM documents),
        |tf0 AS (
        |  SELECT doc_id, word, count(*) AS c FROM wds GROUP BY doc_id, word),
        |tfn AS (
        |  SELECT doc_id, word,
        |    c::DOUBLE / sum(c) OVER (PARTITION BY doc_id) AS tf
        |  FROM tf0),
        |dft AS (SELECT word, count(*) AS df FROM tf0 GROUP BY word),
        |n AS (SELECT count(*) AS n FROM documents),
        |idf AS (SELECT word, ln(n::DOUBLE / df) AS idf FROM dft, n),
        |sc AS (
        |  SELECT t.doc_id, t.word, t.tf * i.idf AS tfidf
        |  FROM tfn t JOIN idf i USING (word)),
        |rk AS (
        |  SELECT doc_id, word, tfidf,
        |    row_number() OVER (PARTITION BY doc_id
        |                       ORDER BY tfidf DESC, word) AS rnk
        |  FROM sc)
        |SELECT doc_id, rnk, word, round(tfidf, 6) AS tfidf
        |FROM rk WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin),
    Query("e4_logprob", e4Logprob,
      """WITH wds AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |  FROM documents),
        |freq AS (SELECT word, count(*) AS c FROM wds GROUP BY word),
        |tot AS (SELECT count(*) AS total FROM wds),
        |lm AS (
        |  SELECT word, -ln(c::DOUBLE / total) AS nll FROM freq, tot)
        |SELECT w.doc_id, count(*)::BIGINT AS n_words,
        |  round(avg(l.nll), 6) AS avg_nll
        |FROM wds w JOIN lm l USING (word)
        |GROUP BY w.doc_id ORDER BY w.doc_id""".stripMargin),
    Query("e4_vocab_oov", e4VocabOov,
      s"""WITH toks AS (
         |  SELECT source, unnest(regexp_extract_all(text, '$TokenRe')) AS tok
         |  FROM documents),
         |vocab AS (
         |  SELECT tok FROM (
         |    SELECT tok, count(*) AS cnt FROM toks GROUP BY tok)
         |  ORDER BY cnt DESC, tok LIMIT 300),
         |j AS (
         |  SELECT t.source, count(*) AS n_tokens,
         |    sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS n_oov
         |  FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
         |  GROUP BY t.source)
         |SELECT source, n_tokens::BIGINT AS n_tokens, n_oov::BIGINT AS n_oov,
         |  round(n_oov::DOUBLE / n_tokens, 6) AS oov_rate
         |FROM j ORDER BY source""".stripMargin),
    Query("e4_chi2", e4Chi2,
      """WITH cells AS (
        |  SELECT lang, source, count(*)::DOUBLE AS o
        |  FROM documents GROUP BY lang, source),
        |m AS (
        |  SELECT o,
        |    sum(o) OVER (PARTITION BY lang) AS ra,
        |    sum(o) OVER (PARTITION BY source) AS cb,
        |    sum(o) OVER () AS n
        |  FROM cells)
        |SELECT round(sum(pow(o - ra * cb / n, 2) / (ra * cb / n)), 6)
        |  AS chi2, count(*)::BIGINT AS n_cells
        |FROM m""".stripMargin),
    Query("e4_zipf", e4Zipf,
      """WITH freq AS (
        |  SELECT w, count(*)::DOUBLE AS f FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w <> '' GROUP BY w),
        |ranked AS (
        |  SELECT ln(row_number() OVER (ORDER BY f DESC, w)::DOUBLE) AS x,
        |    ln(f) AS y
        |  FROM freq),
        |s AS (
        |  SELECT count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx
        |  FROM ranked)
        |SELECT n::BIGINT AS n_types,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS slope
        |FROM s""".stripMargin),
    // formula spelled textually parallel to the Scala (same constant
    // spellings, same association) so both engines round identically
    Query("e4_bm25", e4Bm25,
      """WITH base AS (
        |  SELECT doc_id, len(string_split(text,' '))::DOUBLE AS dl,
        |    string_split(text,' ') AS ws
        |  FROM documents),
        |stats AS (
        |  SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM base),
        |tf AS (
        |  SELECT doc_id, dl, term, count(*)::DOUBLE AS tf
        |  FROM (SELECT doc_id, dl, unnest(ws) AS term FROM base)
        |  WHERE term IN ('the','and','of','lottery')
        |  GROUP BY doc_id, dl, term),
        |dft AS (
        |  SELECT term,
        |    ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) AS idf, avgdl
        |  FROM (SELECT term, count(*) AS df FROM tf GROUP BY term), stats),
        |sc AS (
        |  SELECT t.doc_id,
        |    sum(d.idf * t.tf * (1.2 + 1) /
        |        (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * t.dl / d.avgdl))) AS score
        |  FROM tf t JOIN dft d USING (term) GROUP BY t.doc_id)
        |SELECT b.doc_id, round(coalesce(s.score, 0.0), 6) AS score
        |FROM base b LEFT JOIN sc s USING (doc_id)
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin),
    Query("e6_cms_heavyhitters", e6CmsHeavyHitters,
      "SELECT true AS no_undercount, true AS overcount_bounded"),
  )
}
