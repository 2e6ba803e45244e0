package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Query, Tables}
import graft.Tables.{load => t}

/** Corpus-hygiene operators for training-data pipelines (EXT, SURVEY
  * §2.12; no reference analog — the reference stops at relational ETL):
  *
  *   - PII detection and redaction (emails, phone numbers, IPv4
  *     addresses) — regex scrub, map-only;
  *   - repetition-based quality signals (the Gopher/C4 family):
  *     unique-word ratio, duplicate-bigram ratio, top-word frequency
  *     fraction — one narrow shuffle keyed by doc_id for the word-mode
  *     signal, everything else map-only.
  *
  * The regex constants are shared verbatim with the DuckDB oracle
  * (interpolated into the SQL), restricted to syntax Java regex and
  * RE2 parse identically: character classes, bounded repetition, \b,
  * \d — no backreferences or lookaround.
  */
object Hygiene {

  // ----------------------------------------------------- PII redaction

  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Scrub PII in one map-only pass. Email first: its replacement token
    * contains no digits or dots, so later patterns cannot match inside
    * it (and vice versa — phone/IP spans never contain '@'). */
  def piiRedact(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>"),
      Ipv4Re, "<IP>")

  /** Per-type PII match counts (detection without redaction). */
  def piiCounts(text: Column): (Column, Column, Column) =
    (regexp_count(text, lit(EmailRe)),
      regexp_count(text, lit(PhoneRe)),
      regexp_count(text, lit(Ipv4Re)))

  /** The synthetic corpus is letters-only, so the gate plants PII
    * deterministically: an email on every 7th doc, a phone on every
    * 11th, an IP on every 13th (a doc can get several). Mirrors the
    * planted-duplicate pattern of [[Curation.withPlantedLang]]. */
  private[ext] def withPlantedPii(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"),
      concat(col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" mail user"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit(" tel 555-867-5309"))
          .otherwise(lit("")),
        when(col("doc_id") % 13 === 0,
          concat(lit(" host 10.20."), (col("doc_id") % 256).cast("string"),
            lit(".7"))).otherwise(lit(""))).as("text"))

  // ----------------------------------------------------- secret scrubbing

  /** Credential patterns — the SECRETS third of corpus hygiene next to
    * PII and blocklists (training corpora scraped from code hosts leak
    * cloud keys and signed tokens; every production pipeline scrubs
    * them before the tokenizer sees them). Same contract as the PII
    * battery: Java∩RE2 syntax only, shared verbatim with the oracle.
    * Shapes: an AWS-style access key id (fixed `AKIA` prefix + 16
    * upper-alnum), a 40-char lowercase-hex token (SHA-1-shaped API
    * secret), and a three-segment `eyJ…`-prefixed signed token (JWT
    * shape — base64url segments joined by dots). The fixed-prefix +
    * alphabet + length structure is what real scanners key on; an
    * entropy threshold would add recall on unstructured secrets but is
    * not regex-expressible (no lookaround in the shared dialect), so
    * the structured patterns are the exact, portable core. */
  val AwsKeyRe = "\\bAKIA[0-9A-Z]{16}\\b"
  val HexTokenRe = "\\b[0-9a-f]{40}\\b"
  val JwtRe = "\\beyJ[A-Za-z0-9_-]{5,}\\.[A-Za-z0-9_-]{5,}\\.[A-Za-z0-9_-]{5,}\\b"

  /** Scrub credentials in one map-only pass. JWT first (its segments
    * are alnum runs a later pattern could bite into); replacement
    * tokens contain `<`/`>`, which no pattern matches, so the passes
    * compose without re-matching. */
  def secretsRedact(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, JwtRe, "<JWT>"),
        AwsKeyRe, "<AWSKEY>"),
      HexTokenRe, "<HEXTOKEN>")

  /** Per-type credential match counts. */
  def secretsCounts(text: Column): (Column, Column, Column) =
    (regexp_count(text, lit(AwsKeyRe)),
      regexp_count(text, lit(HexTokenRe)),
      regexp_count(text, lit(JwtRe)))

  /** Deterministic secret planting (letters-only corpus, same pattern
    * as [[withPlantedPii]]): an AWS key on every 9th doc, a hex token
    * on every 10th, a JWT on every 17th — all derived from doc_id so
    * the oracle replants them bit-identically in SQL. */
  private[ext] def withPlantedSecrets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"),
      concat(col("text"),
        when(col("doc_id") % 9 === 0,
          concat(lit(" key AKIA"),
            lpad(col("doc_id").cast("string"), 16, "0")))
          .otherwise(lit("")),
        when(col("doc_id") % 10 === 0,
          concat(lit(" sha "),
            lpad(col("doc_id").cast("string"), 40, "a")))
          .otherwise(lit("")),
        when(col("doc_id") % 17 === 0,
          concat(lit(" jwt eyJ"),
            lpad(col("doc_id").cast("string"), 8, "x"), lit("."),
            lpad(col("doc_id").cast("string"), 8, "y"), lit("."),
            lpad(col("doc_id").cast("string"), 8, "z")))
          .otherwise(lit(""))).as("text"))

  // ------------------------------------------- repetition quality signals

  /** Map-only repetition signals over the word array: unique-word ratio
    * and duplicate-bigram ratio (1 − distinct bigrams / total bigrams —
    * boilerplate text repeats n-grams, natural text mostly doesn't). */
  def uniqueWordRatio(text: Column): Column = {
    val words = split(text, " ")
    round(size(array_distinct(words)).cast("double") /
      greatest(size(words), lit(1)), 4)
  }

  def dupBigramRatio(text: Column): Column = {
    val n = size(split(text, " "))
    when(n >= 2,
      round(lit(1.0) - size(Dedup.shingles(text, 2)).cast("double") /
        (n - 1), 4))
      .otherwise(lit(0.0))
  }

  /** Per-document repetition profile. The top-word signal needs per-word
    * counts, so it is the one non-map stage: explode → count keyed by
    * (doc_id, word) → max/sum per doc — a narrow two-level aggregation
    * that pre-combines map-side; candidates never leave their doc key.
    * At 100 TB this is a linear scan plus one shuffle of (doc_id, word)
    * counts — no global state, no all-pairs. */
  def repetitionProfile(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val mapSide = docs.select(col(idCol).as("doc_id"),
      size(split(col(textCol), " ")).cast("long").as("n_words"),
      uniqueWordRatio(col(textCol)).as("uniq_ratio"),
      dupBigramRatio(col(textCol)).as("dup_bigram_ratio"))
    val topWord = docs
      .select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("top_n"))
    mapSide.join(topWord, Seq("doc_id"))
      .select(col("doc_id"), col("n_words"), col("uniq_ratio"),
        col("dup_bigram_ratio"),
        round(col("top_n").cast("double") / col("n_words"), 4)
          .as("top_word_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Gopher repetition filters, the top-n-gram half (Rae et al. 2021,
    * Table A1): the fraction of the document occupied by its single
    * most frequent {2,3,4}-gram — templated/spun text concentrates
    * mass in one repeated phrase, which unique-word and dup-bigram
    * ratios can miss. Per n: explode word n-grams as 64-bit xxhash64
    * keys (fixed-width keys, and counts never leave their
    * (doc, n, key) grouping), count per (doc, gram), keep the per-doc
    * max, report the occupied fraction
    * in integer BASIS POINTS (cnt·n·10⁴ div n_tokens): token ratios
    * like 1/2⁵ land EXACTLY on 4th-decimal half-boundaries where the
    * engines' double rounding modes legitimately disagree — integer
    * floor division doesn't round at all. A gram counts only when it
    * repeats (cnt ≥ 2); a doc shorter than n reports 0. The mass is
    * cnt·n WITHOUT overlap-union — the public reimplementations'
    * spelling (DataTrove / NeMo Curator compute count·len/len(doc)),
    * so degenerate self-overlapping repeats can exceed 10⁴ bp
    * (spec-pinned deliberately). */
  def topNgramFractions(docs: DataFrame, idCol: String, textCol: String,
      ns: Seq[Int] = Seq(2, 3, 4)): DataFrame = {
    // r14 restructure (guide §2.3/§2.4): ONE tokenize pass (checkpointed
    // — the old shape re-split the text once per n), ONE (doc, n, gram)
    // shuffle + ONE per-doc pivot aggregation + ONE join (was 2 shuffles
    // and a join PER n), and 8-byte xxhash64 gram keys instead of
    // 64-hex-char sha2 digests — the key only buckets within
    // (doc_id, n), so it needs uniqueness, not cryptographic width;
    // narrow keys shuffle ~9× fewer bytes and skip a SHA-256 per gram.
    // Counts (and therefore the emitted maxima/basis points) are
    // identical — the oracle re-derives them from gram VALUES.
    val base = Tables.spread(docs.select(col(idCol), col(textCol)))
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("ws"))
      .select(col("doc_id"), size(col("ws")).cast("long").as("nt"),
        col("ws"))
      .localCheckpoint(eager = false) // gram pass ×|ns| + the final join
    val grams = ns.map(n => base.filter(col("nt") >= n)
        .select(col("doc_id"), lit(n).as("n"),
          explode(expr(
            s"transform(sequence(1, size(ws) - ${n - 1}), i -> " +
              s"xxhash64(array_join(slice(ws, i, $n), ' ')))"))
            .as("g")))
      .reduce(_ unionByName _)
    val topCols = ns.map(n =>
      max(when(col("n") === n, col("c"))).as(s"top$n"))
    val tops = grams
      .groupBy(col("doc_id"), col("n"), col("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(topCols.head, topCols.tail: _*)
    val joined = base.select(col("doc_id"), col("nt"))
      .join(tops, Seq("doc_id"), "left")
    val out = ns.foldLeft(joined) { (acc, n) =>
      acc.withColumn(s"top$n", coalesce(col(s"top$n"), lit(0L)))
        .withColumn(s"dup${n}_bp", expr(
          s"CASE WHEN top$n >= 2 THEN (top$n * $n * 10000) div nt " +
            "ELSE 0 END"))
    }
    out.select(col("doc_id") +: col("nt").as("n_tokens") +:
      ns.flatMap(n => Seq(col(s"top$n"), col(s"dup${n}_bp"))): _*)
      .orderBy(col("doc_id"))
  }

  /** E9q: the Gopher top-n-gram repetition fractions over the corpus;
    * full value-level oracle (DuckDB regenerates every gram, the
    * per-doc maxima, and the integer basis-point arithmetic). */
  private val e9TopNgram: Q = (s, dir) =>
    topNgramFractions(Tables.spread(t(s, dir, "documents")), "doc_id", "text")

  // ------------------------------------------- boilerplate profiling

  /** Corpus-wide boilerplate profile (the C4-family signal): a doc's
    * fraction of distinct shingles whose corpus document-frequency
    * exceeds `maxDf` — template/navigation text shares n-grams across
    * many documents, original prose doesn't. Two keyed shuffles (shingle
    * df, per-doc re-aggregation); the df join is vocabulary-keyed.
    * Linear at 100 TB — the same blocking frame as contamination. */
  def boilerplateProfile(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, maxDf: Long = 2): DataFrame = {
    val sh = docs.select(col(idCol).as("doc_id"),
      explode(Dedup.shingles(col(textCol), shingleN)).as("tok"))
    val dfc = sh.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    sh.join(dfc, Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") > maxDf, 1L).otherwise(0L)).as("n_boiler"))
      .withColumn("boiler_frac",
        round(col("n_boiler").cast("double") / col("n_shingles"), 4))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------- source/term blocklist curation

  /** Demo policy: three untrusted sources and a banned-term list (the
    * domain-blocklist + keyword-filter stage every web-corpus pipeline
    * runs first). Both constants are shared verbatim with the oracle —
    * the source list interpolated into SQL `IN`, the regex Java∩RE2. */
  val BlockedSources: Seq[String] = Seq("src3", "src7", "src12")
  val BannedTermRe = "\\b(freecoins|darkmagic)\\b"

  /** Plant banned terms so the gate exercises the term path on the
    * letters-only synthetic corpus (same pattern as [[withPlantedPii]]). */
  private[ext] def withPlantedSpam(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      concat(col("text"),
        when(col("doc_id") % 9 === 0, lit(" get freecoins today"))
          .otherwise(lit("")),
        when(col("doc_id") % 17 === 0, lit(" cast darkmagic now"))
          .otherwise(lit(""))).as("text"))

  /** Classify each document against a source blocklist then a banned-term
    * regex (source wins; a doc is counted once). Map-only verdict into
    * one per-source aggregation — the linear shape; at 100 TB the
    * blocklist is a broadcast set / compiled regex on the scan, and the
    * audit is the same one partial-agg shuffle. `sum_kept_ids` pins exact
    * kept membership, not just counts. */
  def blocklistAudit(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, blockedSources: Seq[String],
      bannedRe: String): DataFrame = {
    val verdict = when(col(sourceCol).isin(blockedSources: _*),
      "blocked_source")
      .when(col(textCol).rlike(bannedRe), "blocked_term")
      .otherwise("kept")
    docs.withColumn("verdict", verdict)
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_in"),
        sum(when(col("verdict") === "blocked_source", 1L).otherwise(0L))
          .as("n_src_blocked"),
        sum(when(col("verdict") === "blocked_term", 1L).otherwise(0L))
          .as("n_term_blocked"),
        sum(when(col("verdict") === "kept", 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("verdict") === "kept", col(idCol)).otherwise(0L))
          .as("sum_kept_ids"))
      .orderBy(col(sourceCol))
  }

  // ---------------------------------- big-dictionary scan (Aho–Corasick)

  /** Dictionary terms that DO occur in the synthetic corpus — chosen so
    * the automaton's interesting paths are exercised: "park" is a pure
    * suffix of "spark" (found only through failure links — a
    * word-boundary regex would miss it), "agg row"/"row scan" share the
    * token "row", and "scan" is a prefix of longer corpus phrases.
    * Shared verbatim with the oracle (interpolated into a VALUES
    * list). */
  val DictTerms: Seq[String] = Seq("agg row", "row scan", "scan", "park",
    "spark", "hash value", "value table", "merge batch", "query line",
    "a a", "slow fast", "window spark")

  /** 4000 decoy terms that provably cannot match: each contains '#', a
    * byte absent from the synthetic corpus (the gate DERIVES that
    * absence by scanning for '#', it does not assume it). The decoys
    * are the point of the operator — the automaton's per-row cost and
    * its answer must not depend on dictionary size, which is exactly
    * what a regex alternation cannot promise at 10k+ terms. Suffixes
    * come from the splitmix64 finalizer (the repo's no-RNG synthetic
    * variety convention). */
  private[ext] val DictDecoys: Seq[String] = {
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    (0 until 4000).map(i => f"#d${i}x${mix(i.toLong)}%016x")
  }

  // ------------------------------------------------------------ queries

  /** E9: plant PII → detect per type → redact → prove nothing survives.
    * `residual_pii` is value-checked (the oracle recomputes the counts
    * on ITS redacted text, not a constant 0), so a redaction bug that
    * leaves matches behind fails the hash even if detection agrees. */
  private val e9PiiRedact: Q = (s, dir) => {
    val planted = withPlantedPii(Tables.spread(t(s, dir, "documents")))
    val (em, ph, ip) = piiCounts(col("text"))
    val (rem, rph, rip) = piiCounts(col("redacted"))
    planted.withColumn("redacted", piiRedact(col("text")))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(em.cast("long")).as("n_emails"),
        sum(ph.cast("long")).as("n_phones"),
        sum(ip.cast("long")).as("n_ips"),
        sum((rem + rph + rip).cast("long")).as("residual_pii"),
        sum((length(col("text")) - length(col("redacted"))).cast("long"))
          .as("chars_delta"))
      .orderBy(col("lang"))
  }

  /** E9h: plant credentials → detect per type → redact → prove nothing
    * survives; same gate shape as [[e9PiiRedact]] (residual counted on
    * the ORACLE'S redacted text too, so a scrub that leaves matches
    * fails the hash even when detection agrees). */
  private val e9Secrets: Q = (s, dir) => {
    val planted = withPlantedSecrets(Tables.spread(t(s, dir, "documents")))
    val (aws, hex, jwt) = secretsCounts(col("text"))
    val (raws, rhex, rjwt) = secretsCounts(col("redacted"))
    planted.withColumn("redacted", secretsRedact(col("text")))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(aws.cast("long")).as("n_awskeys"),
        sum(hex.cast("long")).as("n_hextokens"),
        sum(jwt.cast("long")).as("n_jwts"),
        sum((raws + rhex + rjwt).cast("long")).as("residual_secrets"),
        sum((length(col("text")) - length(col("redacted"))).cast("long"))
          .as("chars_delta"))
      .orderBy(col("lang"))
  }

  /** E9b: per-document repetition profile over the whole corpus. */
  private val e9Repetition: Q = (s, dir) =>
    repetitionProfile(Tables.spread(t(s, dir, "documents")), "doc_id", "text")

  /** E9c: per-document boilerplate fraction at df > 2. */
  private val e9Boilerplate: Q = (s, dir) =>
    boilerplateProfile(Tables.spread(t(s, dir, "documents")), "doc_id", "text")

  /** E9d: source+term blocklist audit over the planted corpus. */
  private val e9Blocklist: Q = (s, dir) =>
    blocklistAudit(withPlantedSpam(Tables.spread(t(s, dir, "documents"))),
      "doc_id", "text", "source", BlockedSources, BannedTermRe)

  /** Gopher-family rule filter (Rae et al. 2021 §A1.1, the C4/Gopher
    * heuristic battery every pre-training corpus passes through),
    * restricted to the rules this corpus can express (it has no line
    * structure): word count within [minWords, maxWords], mean word
    * length within [3, 10] chars, and ≥2 distinct common stopwords
    * (the "is this prose at all" test). Entirely map-only closed-form
    * arithmetic: mean word length = non-space chars / words — no word
    * explode, no shuffle before the rollup; integer comparisons on
    * exactly-computed doubles, so no rounding grid is needed. */
  val GopherStopwords: Seq[String] = Seq("the", "a", "of", "and", "to")

  def gopherRules(docs: DataFrame, textCol: String,
      minWords: Int, maxWords: Int): DataFrame = {
    val ws = split(col(textCol), " ")
    val nWords = size(ws).cast("double")
    val mwl = length(translate(col(textCol), " ", ""))
      .cast("double") / nWords
    val nStop = GopherStopwords
      .map(w => array_contains(ws, w).cast("long"))
      .reduce(_ + _)
    docs
      .withColumn("ok_words",
        nWords >= minWords && nWords <= maxWords)
      .withColumn("ok_mwl", mwl >= 3.0 && mwl <= 10.0)
      .withColumn("ok_stop", nStop >= 2L)
      .withColumn("keep",
        col("ok_words") && col("ok_mwl") && col("ok_stop"))
  }

  /** E9e: Gopher rule-filter audit — per language, how many documents
    * fail each rule and which survive, membership pinned by the kept-id
    * checksum. Word bounds tightened to [20, 200] so the synthetic
    * corpus actually exercises both sides of the cut. */
  private val e9Gopher: Q = (s, dir) =>
    gopherRules(Tables.spread(t(s, dir, "documents")), "text", 20, 200)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(!col("ok_words"), 1L).otherwise(0L)).as("n_fail_words"),
        sum(when(!col("ok_mwl"), 1L).otherwise(0L)).as("n_fail_mwl"),
        sum(when(!col("ok_stop"), 1L).otherwise(0L)).as("n_fail_stop"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("doc_id")).otherwise(0L)).as("sum_kept_ids"))
      .orderBy(col("lang"))

  /** K-anonymity audit over quasi-identifier columns (Sweeney 2002) —
    * the release-side privacy complement of PII redaction: even with
    * direct identifiers scrubbed, a (lang, source, length-bucket)
    * combination shared by fewer than k documents re-identifies via
    * linkage. One hash aggregation over the QI tuple (the shuffle key
    * is the QI, counts combine map-side), then risky groups (n < k)
    * with their share of the corpus — the rows a k-anonymous release
    * must suppress or generalize. The corpus total rides in as a
    * broadcast one-row crossJoin, not a second scan of the agg. */
  def kAnonymityAudit(docs: DataFrame, k: Int): DataFrame = {
    val groups = docs.groupBy(col("lang"), col("source"),
        expr("n_chars DIV 100").as("len_bucket"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = false) // one agg, two consumers
    val total = groups.agg(sum(col("n")).as("n_total"))
    groups.filter(col("n") < k)
      .crossJoin(total)
      .select(col("lang"), col("source"), col("len_bucket"), col("n"),
        round(col("n").cast("double") / col("n_total"), 6).as("corpus_share"))
      .orderBy(col("lang"), col("source"), col("len_bucket"))
  }

  /** E9g: the k-anonymity audit at k=5, full value oracle. */
  private val e9Kanon: Q = (s, dir) =>
    kAnonymityAudit(Tables.spread(t(s, dir, "documents")), k = 5)

  /** Differentially-private histogram release (Dwork et al., TCC'06:
    * the Laplace mechanism, sensitivity 1, ε = 0.5 → scale b = 2):
    * per-(lang, source) document counts published with additive
    * Laplace noise drawn by inverse-CDF from a per-cell uniform.
    * ENGINE-PARITY CAVEAT, stated honestly: a production DP release
    * draws the uniform from a real RNG; here it derives
    * deterministically from the cell's rank (the [[graft.ext.TrainPrep.splitBucket]]
    * bin-center multiplicative hash — the repo's no-RNG convention),
    * which demonstrates the full release dataflow (aggregate → seed →
    * inverse-CDF noise → round → publish) with a bit-reproducible
    * answer both engines restate, trading actual privacy for
    * testability. The noise is rounded per-row BEFORE the sum (the
    * rounding-parity convention). The rank window is over the released
    * CELLS — a lang×source-bounded frame, dim-sized like the mixture
    * tables, never document-sized. */
  private val e9DpRelease: Q = (s, dir) => {
    val b = 2.0 // 1/epsilon, epsilon = 0.5, sensitivity 1
    val cells = Tables.spread(t(s, dir, "documents"))
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("lang"), col("source"))
    val u = TrainPrep.splitBucket(col("rk")) + lit(0.5 / 4294967296.0)
    val noise = round(lit(-b) * signum(u - 0.5) *
      log(lit(1.0) - lit(2.0) * abs(u - 0.5)), 6)
    cells.withColumn("rk", row_number().over(w))
      .select(col("lang"), col("source"),
        round(col("n") + noise, 4).as("n_noisy"))
      .orderBy(col("lang"), col("source"))
  }

  final case class CompressStats(doc_id: Long, n_bytes: Int,
      deflated_len: Int, ratio: Double, doubling_ok: Boolean)

  /** E9i ✱: COMPRESSION-RATIO quality signal — the Gopher/CCNet-family
    * heuristic shipped in real pretraining pipelines: highly
    * compressible text (boilerplate, repeated spans, template spam)
    * is low-quality; near-incompressible text is often binary junk or
    * high-entropy noise. Ratio = deflate(text).length / text.length
    * via the JDK Deflater (BEST_COMPRESSION, one codec instance
    * reused per partition — the mapPartitions amortization shape).
    * Engine-specific bytes (no deflate in DuckDB), so the gate is the
    * self-check convention: per doc, (a) 0 < deflate(text).length ≤
    * text.length + 11 + 5·(⌊text.length/65535⌋ + 1) — zlib's documented
    * worst case: a fixed header plus 5 bytes of stored-block framing
    * per started 64 KB block, so the bound holds for EVERY input — empty
    * docs, sub-60-byte docs (where a pure ratio cap would legitimately
    * exceed 1), and multi-megabyte incompressible ones (where a flat
    * +64 slack would be exceeded past ~760 KB of stored blocks);
    * (b) the SELF-SIMILARITY law deflate(text·2) <
    * 2·deflate(text) + 64 — doubling a document must compress better
    * than twice the original because the second copy back-references
    * the first; a broken codec or a length computed on the wrong
    * bytes breaks the inequality. The per-doc ratio column is the
    * quality SIGNAL (unbounded above by design for tiny docs); the
    * gates are the length laws. */
  private val e9CompressRatio: Q = (s, dir) => {
    import s.implicits._
    val stats = Tables.spread(t(s, dir, "documents"))
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        // ONE native zlib stream per partition, reset between docs —
        // the mapPartitions amortization this operator exists to show.
        val d = new java.util.zip.Deflater(
          java.util.zip.Deflater.BEST_COMPRESSION)
        val buf = new Array[Byte](1 << 20)
        def deflatedLen(b: Array[Byte]): Int = {
          d.reset(); d.setInput(b); d.finish()
          var n = 0
          while (!d.finished()) n += d.deflate(buf)
          n
        }
        val out = rows.map { case (id, text) =>
          val b = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val one = deflatedLen(b)
          val two = deflatedLen(b ++ b)
          CompressStats(id, b.length, one,
            if (b.length == 0) 1.0 else one.toDouble / b.length,
            two < 2 * one + 64)
        }
        // Release the native zlib buffer deterministically when the
        // partition is exhausted — finalization-time reclaim holds
        // off-heap memory per core for the GC's convenience, not ours.
        // Deflater.end() is idempotent, so repeated hasNext is safe.
        new Iterator[CompressStats] {
          def hasNext: Boolean = { val h = out.hasNext; if (!h) d.end(); h }
          def next(): CompressStats = out.next()
        }
      }
    stats.toDF()
      .agg(
        expr("bool_and(deflated_len > 0 AND deflated_len <= " +
            "n_bytes + 11 + 5 * ((n_bytes div 65535) + 1))")
          .as("ratios_sane"),
        expr("bool_and(doubling_ok)").as("self_similarity_holds"),
        (count(lit(1)) > 0).as("nonempty"))
  }

  // -------------------------------------------- Unicode normalization

  /** Characters the cleaner strips outright: C0 controls, DEL, the
    * zero-width space/joiner family, and the BOM. One constant
    * interpolated into both engines (Java∩RE2: `\x{hhhh}` classes). */
  val StripRe = "[\\x{0000}-\\x{0008}\\x{000B}-\\x{001F}\\x{007F}" +
    "\\x{200B}-\\x{200D}\\x{FEFF}]"

  /** Run-of-spaces collapse (post-strip). */
  val MultiSpaceRe = " {2,}"

  /** Planted-char audit class: the two combining marks (gone after NFC
    * composes them into é/ï) plus the control and zero-width plants. */
  val PlantedMarkRe = "[\\x{0301}\\x{0308}\\x{0007}\\x{200B}]"

  /** The corpus is ASCII, so the gate plants the pathologies a web
    * crawl actually carries: decomposed accents (e + U+0301, i +
    * U+0308) on every 7th doc, a C0 control (BEL) and a zero-width
    * space on every 11th, a double space on every 13th. Mirrors
    * [[withPlantedPii]]. */
  private[ext] def withPlantedMojibake(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"),
      concat(col("text"),
        when(col("doc_id") % 7 === 0,
          lit(" cafe\u0301 nai\u0308ve")).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          lit("\u0007alert\u200Bzero")).otherwise(lit("")),
        when(col("doc_id") % 13 === 0, lit(" end  here"))
          .otherwise(lit(""))).as("text"))

  /** The standard text-cleaning composition, each stage map-only:
    * NFC-compose (native [[graft.functions.NfcNormalize]]) → strip
    * controls/zero-widths → collapse space runs → trim. */
  def nfcClean(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        graft.functions.NfcNormalize.nfcNormalize(text),
        StripRe, ""),
      MultiSpaceRe, " "))

  /** E9k: Unicode NFC normalization + control stripping — the cleaning
    * pass that runs before any hash-based dedup (decomposed `cafe´`
    * and precomposed `café` must hash identically or near-dup misses
    * them). Value-level parity with DuckDB's `nfc_normalize` on the
    * planted corpus: per-language doc counts, changed-doc counts,
    * codepoint totals before/after, composed-accent occurrences on
    * the CLEANED text, and the residual planted-mark count (0 — NFC
    * composed the accents, the strip removed the rest). Every column
    * is recomputed by the oracle from the same planted corpus, so a
    * normalizer that skips composition, a strip that eats the wrong
    * class, or a collapse that misses an edge hash-fails. */
  private val e9NfcClean: Q = (s, dir) => {
    val planted = withPlantedMojibake(Tables.spread(t(s, dir, "documents")))
    planted.withColumn("cleaned", nfcClean(col("text")))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("cleaned") =!= col("text"), 1L).otherwise(0L))
          .as("n_changed"),
        sum(length(col("text")).cast("long")).as("chars_before"),
        sum(length(col("cleaned")).cast("long")).as("chars_after"),
        sum(regexp_count(col("cleaned"), lit("caf\u00e9 na\u00efve"))
          .cast("long")).as("n_composed"),
        sum(regexp_count(col("cleaned"), lit(PlantedMarkRe)).cast("long"))
          .as("residual_marks"))
      .orderBy(col("lang"))
  }

  // ------------------------------------------------- URL canonicalization

  /** URL canonicalization constants — ONE each, shared verbatim with
    * the oracle. Replacements are all LITERAL (Java spells group
    * backreferences `$1`, RE2 spells them `\1` — so replacement
    * backrefs are banned from the shared dialect, same as lookaround
    * in patterns). */
  val UrlFragmentRe = "#.*$"
  val UrlUtmRe = "utm_[a-z]+=[^&#]*&?"
  val UrlTrailSepRe = "[?&]$"
  val UrlSchemeHostRe = "^([^/]*//[^/]*)"
  val UrlAfterHostRe = "^[^/]*//[^/]*"
  val UrlPortRe = ":443/"
  val UrlDotSegRe = "/[^/]+/\\.\\./"

  /** Canonicalize a URL column — the step before any URL-keyed dedup
    * or frontier merge in a crawler (the same page arrives as
    * `HTTPS://Host:443/a/../b#frag?utm_...` and `https://host/b`; raw
    * string dedup misses every variant). Scheme+host lowercase (path
    * and query stay case-sensitive per RFC 3986), fragment dropped,
    * `utm_*` tracking params dropped, explicit default port `:443`
    * dropped, one `/seg/../` dot-segment resolved. Map-only. */
  def urlCanon(u: Column): Column = {
    val lowered = concat(
      lower(regexp_extract(u, UrlSchemeHostRe, 1)),
      regexp_replace(u, UrlAfterHostRe, ""))
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(lowered, UrlFragmentRe, ""),
            UrlUtmRe, ""),
          UrlTrailSepRe, ""),
        UrlPortRe, "/"),
      UrlDotSegRe, "/")
  }

  /** Deterministic URL plant: even docs carry an UPPERCASE scheme+host
    * variant of the same logical URL odd docs carry lowercase — so the
    * canonical forms MERGE across the case split while the raw strings
    * do not, and the distinct-count drop proves the canonicalization
    * does real work. */
  private[graft] def withPlantedUrls(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"),
      concat(
        when(col("doc_id") % 2 === 0, lit("HTTPS://WWW.EXAMPLE"))
          .otherwise(lit("https://www.example")),
        (col("doc_id") % 7).cast("string"),
        when(col("doc_id") % 2 === 0, lit(".COM")).otherwise(lit(".com")),
        lit(":443/path/../p"), (col("doc_id") % 13).cast("string"),
        lit("/?utm_source=x"),
        when(col("doc_id") % 3 === 0, lit("&utm_campaign=y"))
          .otherwise(lit("")),
        lit("&id="), (col("doc_id") % 5).cast("string"),
        lit("#s"), (col("doc_id") % 4).cast("string")).as("url"))

  /** E9l: URL canonicalization audit — per language: url count, how
    * many changed (all of them — every plant has a fragment), raw vs
    * canonical distinct counts (the merge the canonicalizer exists to
    * produce), and the canonical character mass. Full value-level
    * restatement: the oracle replants the same URLs and applies the
    * same regex chain in the same order. */
  private val e9UrlCanon: Q = (s, dir) => {
    withPlantedUrls(Tables.spread(t(s, dir, "documents")))
      .withColumn("canon", urlCanon(col("url")))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_urls"),
        sum(when(col("canon") =!= col("url"), 1L).otherwise(0L))
          .as("n_changed"),
        countDistinct(col("url")).as("n_raw_distinct"),
        countDistinct(col("canon")).as("n_canon_distinct"),
        sum(length(col("canon")).cast("long")).as("canon_chars"))
      .orderBy(col("lang"))
  }

  // ------------------------------------------------- HTML strip/decode

  /** Tag + entity patterns — ONE constant in both engines (Java∩RE2:
    * classes, alternation, bounded repetition only). */
  val HtmlTagRe = "<[^>]*>"
  val HtmlEntityRe = "&[a-z]+;|&#[0-9]+;"

  /** Strip markup then decode the six common entities — the first
    * transform every crawl-scale corpus applies. `&amp;` decodes LAST
    * (the standard order: decoding it first would re-introduce
    * decodable text — `&amp;lt;` must yield `&lt;`, not `<`).
    * Map-only, no shuffle. */
  def htmlStrip(html: Column): Column =
    Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(regexp_replace(html, HtmlTagRe, "")) {
        case (c, (e, r)) => regexp_replace(c, e, r)
      }

  /** Deterministic markup plant: every doc gets an id-keyed tag shell
    * plus the six common entities; every third doc also carries an
    * attribute URL with an encoded ampersand (the case that breaks
    * decode-&amp;-first implementations). */
  private[graft] def withPlantedHtml(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      concat(
        lit("<p id=\"d"), col("doc_id").cast("string"),
        lit("\"><b>Title</b> "), col("text"),
        when(col("doc_id") % 3 === 0,
          lit(" <a href=\"http://x/?a=1&amp;b=2\">link</a>"))
          .otherwise(lit("")),
        lit(" &lt;raw&gt; &quot;q&quot; &#39;s&#39;&nbsp;&amp; tail</p>"))
        .as("html"))

  /** E9m: HTML strip + entity decode, full value-level oracle — the
    * cleaned string itself is hash-compared per document, so a missed
    * tag, a wrong decode order, or an extra space all fail. */
  private val e9HtmlStrip: Q = (s, dir) => {
    withPlantedHtml(Tables.spread(t(s, dir, "documents")))
      .select(col("doc_id"),
        regexp_count(col("html"), lit(HtmlTagRe)).cast("long").as("n_tags"),
        regexp_count(col("html"), lit(HtmlEntityRe)).cast("long")
          .as("n_entities"),
        htmlStrip(col("html")).as("clean"))
      .withColumn("clean_chars", length(col("clean")).cast("long"))
      .orderBy(col("doc_id"))
  }

  /** E9m: one-pass multi-pattern dictionary scan via the native
    * [[graft.functions.AhoCorasickScan]] automaton over a 4012-term
    * dictionary (12 corpus phrases + 4000 '#'-marked decoys that cannot
    * match). Per matched term: doc frequency + exact doc-id checksum —
    * a buggy automaton that reports a decoy adds a row the oracle does
    * not have (hash fail), one that misses a hit shifts the counts. The
    * '#decoys' audit row derives the decoy-impossibility from the data
    * (count of docs containing '#'), restated by the oracle from the
    * same scan. Map-only until one per-term rollup — at 100 TB the
    * automaton is a plan reference object on the scan, cost
    * O(text + hits) per row independent of dictionary size. */
  private val e9DictScan: Q = (s, dir) => {
    import graft.functions.AhoCorasickScan.dictScan
    val docs = Tables.spread(t(s, dir, "documents"))
    val perTerm = docs
      .select(col("doc_id"),
        explode(dictScan(col("text"), DictTerms ++ DictDecoys)).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_doc_ids"))
    val decoyAudit = docs
      .agg(sum(when(col("text").contains("#"), 1L).otherwise(0L))
        .as("n_docs"))
      .select(lit("#decoys").as("term"), col("n_docs"),
        lit(0L).as("sum_doc_ids"))
    perTerm.unionByName(decoyAudit).orderBy(col("term"))
  }

  val queries: Seq[Query] = Seq(
    // Same plant, same tag regex ('g' — DuckDB replaces first-only by
    // default), same entity decode chain with &amp; last. Entity
    // replacements use plain `replace` (the patterns are literal).
    Query("e9_html_strip", e9HtmlStrip,
      s"""WITH planted AS (
         |  SELECT doc_id,
         |    '<p id="d' || doc_id || '"><b>Title</b> ' || text ||
         |    (CASE WHEN doc_id % 3 = 0
         |          THEN ' <a href="http://x/?a=1&amp;b=2">link</a>'
         |          ELSE '' END) ||
         |    ' &lt;raw&gt; &quot;q&quot; &#39;s&#39;&nbsp;&amp; tail</p>'
         |      AS html
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, html,
         |    replace(replace(replace(replace(replace(replace(
         |      regexp_replace(html, '$HtmlTagRe', '', 'g'),
         |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
         |      '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&') AS clean
         |  FROM planted)
         |SELECT doc_id,
         |  len(regexp_extract_all(html, '$HtmlTagRe'))::BIGINT AS n_tags,
         |  len(regexp_extract_all(html, '$HtmlEntityRe'))::BIGINT
         |    AS n_entities,
         |  clean, length(clean)::BIGINT AS clean_chars
         |FROM c ORDER BY doc_id""".stripMargin),
    // Same plants, same regex chain in the same order ('g' — Spark's
    // regexp_replace is replace-all by default, DuckDB's is not).
    Query("e9_url_canon", e9UrlCanon,
      s"""WITH planted AS (
         |  SELECT lang,
         |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.EXAMPLE'
         |          ELSE 'https://www.example' END) ||
         |    (doc_id % 7) ||
         |    (CASE WHEN doc_id % 2 = 0 THEN '.COM' ELSE '.com' END) ||
         |    ':443/path/../p' || (doc_id % 13) || '/?utm_source=x' ||
         |    (CASE WHEN doc_id % 3 = 0 THEN '&utm_campaign=y'
         |          ELSE '' END) ||
         |    '&id=' || (doc_id % 5) || '#s' || (doc_id % 4) AS url
         |  FROM documents),
         |c AS (
         |  SELECT lang, url,
         |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |      regexp_replace(
         |        lower(regexp_extract(url, '$UrlSchemeHostRe', 1)) ||
         |          regexp_replace(url, '$UrlAfterHostRe', '', 'g'),
         |      '$UrlFragmentRe', '', 'g'),
         |      '$UrlUtmRe', '', 'g'),
         |      '$UrlTrailSepRe', '', 'g'),
         |      '$UrlPortRe', '/', 'g'),
         |      '$UrlDotSegRe', '/', 'g') AS canon
         |  FROM planted)
         |SELECT lang, count(*)::BIGINT AS n_urls,
         |  sum(CASE WHEN canon <> url THEN 1 ELSE 0 END)::BIGINT
         |    AS n_changed,
         |  count(DISTINCT url)::BIGINT AS n_raw_distinct,
         |  count(DISTINCT canon)::BIGINT AS n_canon_distinct,
         |  sum(length(canon))::BIGINT AS canon_chars
         |FROM c GROUP BY lang ORDER BY lang""".stripMargin),
    // Full restatement: DuckDB replants the same mojibake (chr() for
    // the combining marks / control / zero-width so no raw control
    // bytes ride in the SQL), runs its utf8proc nfc_normalize against
    // the JDK Normalizer, and the shared strip/collapse regexes.
    Query("e9_nfc_clean", e9NfcClean,
      s"""WITH planted AS (
         |  SELECT lang, text ||
         |    (CASE WHEN doc_id % 7 = 0
         |          THEN ' cafe' || chr(769) || ' nai' || chr(776) || 've'
         |          ELSE '' END) ||
         |    (CASE WHEN doc_id % 11 = 0
         |          THEN chr(7) || 'alert' || chr(8203) || 'zero'
         |          ELSE '' END) ||
         |    (CASE WHEN doc_id % 13 = 0 THEN ' end  here'
         |          ELSE '' END) AS text
         |  FROM documents),
         |c AS (
         |  SELECT lang, text,
         |    trim(regexp_replace(regexp_replace(
         |      nfc_normalize(text), '$StripRe', '', 'g'),
         |      '$MultiSpaceRe', ' ', 'g')) AS cleaned
         |  FROM planted)
         |SELECT lang, count(*)::BIGINT AS n_docs,
         |  sum(CASE WHEN cleaned <> text THEN 1 ELSE 0 END)::BIGINT
         |    AS n_changed,
         |  sum(length(text))::BIGINT AS chars_before,
         |  sum(length(cleaned))::BIGINT AS chars_after,
         |  sum(len(regexp_extract_all(cleaned,
         |    'caf' || chr(233) || ' na' || chr(239) || 've')))::BIGINT
         |    AS n_composed,
         |  sum(len(regexp_extract_all(cleaned, '$PlantedMarkRe')))::BIGINT
         |    AS residual_marks
         |FROM c GROUP BY lang ORDER BY lang""".stripMargin),
    // Self-check (✱): deflate bytes are engine-specific; bounds and the
    // self-similarity law asserted in-plan, constant-true oracle.
    Query("e9_compress_ratio", e9CompressRatio,
      """SELECT true AS ratios_sane, true AS self_similarity_holds,
        |  true AS nonempty""".stripMargin),
    // Full restatement of the deterministic Laplace release: same
    // rank seed, same bin-center uniform, same inverse CDF, same
    // per-row rounding (rk is small and positive, so the plain `%`
    // spelling equals splitBucket's pmod form).
    Query("e9_dp_release", e9DpRelease,
      """WITH cells AS (
        |  SELECT lang, source, count(*)::BIGINT AS n
        |  FROM documents GROUP BY lang, source),
        |r AS (
        |  SELECT lang, source, n,
        |    row_number() OVER (ORDER BY lang, source) AS rk
        |  FROM cells),
        |z AS (
        |  SELECT lang, source, n,
        |    ((rk % 2147483648) * 2654435761) % 4294967296
        |      / 4294967296.0 + 0.5 / 4294967296.0 AS u
        |  FROM r)
        |SELECT lang, source,
        |  round(n + round(-2.0 * sign(u - 0.5) *
        |    ln(1 - 2 * abs(u - 0.5)), 6), 4) AS n_noisy
        |FROM z ORDER BY lang, source""".stripMargin),
    Query("e9_kanon", e9Kanon,
      """WITH g AS (
        |  SELECT lang, source, n_chars // 100 AS len_bucket,
        |    count(*)::BIGINT AS n
        |  FROM documents GROUP BY 1, 2, 3),
        |t AS (SELECT sum(n)::BIGINT AS n_total FROM g)
        |SELECT lang, source, len_bucket, n,
        |  round(n::DOUBLE / n_total, 6) AS corpus_share
        |FROM g CROSS JOIN t
        |WHERE n < 5
        |ORDER BY lang, source, len_bucket""".stripMargin),
    Query("e9_gopher", e9Gopher,
      """WITH r AS (
        |  SELECT doc_id, lang,
        |    len(string_split(text, ' '))::DOUBLE AS nw,
        |    length(replace(text, ' ', ''))::DOUBLE
        |      / len(string_split(text, ' ')) AS mwl,
        |    (list_contains(string_split(text, ' '), 'the')::INT
        |     + list_contains(string_split(text, ' '), 'a')::INT
        |     + list_contains(string_split(text, ' '), 'of')::INT
        |     + list_contains(string_split(text, ' '), 'and')::INT
        |     + list_contains(string_split(text, ' '), 'to')::INT) AS nstop
        |  FROM documents),
        |v AS (
        |  SELECT doc_id, lang,
        |    (nw >= 20 AND nw <= 200) AS ok_words,
        |    (mwl >= 3.0 AND mwl <= 10.0) AS ok_mwl,
        |    (nstop >= 2) AS ok_stop
        |  FROM r)
        |SELECT lang, count(*)::BIGINT AS n_docs,
        |  sum(CASE WHEN NOT ok_words THEN 1 ELSE 0 END)::BIGINT AS n_fail_words,
        |  sum(CASE WHEN NOT ok_mwl THEN 1 ELSE 0 END)::BIGINT AS n_fail_mwl,
        |  sum(CASE WHEN NOT ok_stop THEN 1 ELSE 0 END)::BIGINT AS n_fail_stop,
        |  sum(CASE WHEN ok_words AND ok_mwl AND ok_stop
        |      THEN 1 ELSE 0 END)::BIGINT AS n_kept,
        |  sum(CASE WHEN ok_words AND ok_mwl AND ok_stop
        |      THEN doc_id ELSE 0 END)::BIGINT AS sum_kept_ids
        |FROM v GROUP BY lang ORDER BY lang""".stripMargin),
    Query("e9_secrets", e9Secrets,
      s"""WITH planted AS (
         |  SELECT lang, text ||
         |    (CASE WHEN doc_id % 9 = 0
         |          THEN ' key AKIA' || lpad(doc_id::VARCHAR, 16, '0')
         |          ELSE '' END) ||
         |    (CASE WHEN doc_id % 10 = 0
         |          THEN ' sha ' || lpad(doc_id::VARCHAR, 40, 'a')
         |          ELSE '' END) ||
         |    (CASE WHEN doc_id % 17 = 0
         |          THEN ' jwt eyJ' || lpad(doc_id::VARCHAR, 8, 'x') ||
         |            '.' || lpad(doc_id::VARCHAR, 8, 'y') ||
         |            '.' || lpad(doc_id::VARCHAR, 8, 'z')
         |          ELSE '' END) AS text
         |  FROM documents),
         |red AS (
         |  SELECT lang, text,
         |    regexp_replace(regexp_replace(regexp_replace(text,
         |      '$JwtRe', '<JWT>', 'g'),
         |      '$AwsKeyRe', '<AWSKEY>', 'g'),
         |      '$HexTokenRe', '<HEXTOKEN>', 'g') AS redacted
         |  FROM planted)
         |SELECT lang, count(*)::BIGINT AS n_docs,
         |  sum(len(regexp_extract_all(text, '$AwsKeyRe')))::BIGINT
         |    AS n_awskeys,
         |  sum(len(regexp_extract_all(text, '$HexTokenRe')))::BIGINT
         |    AS n_hextokens,
         |  sum(len(regexp_extract_all(text, '$JwtRe')))::BIGINT AS n_jwts,
         |  sum(len(regexp_extract_all(redacted, '$AwsKeyRe'))
         |    + len(regexp_extract_all(redacted, '$HexTokenRe'))
         |    + len(regexp_extract_all(redacted, '$JwtRe')))::BIGINT
         |    AS residual_secrets,
         |  sum(len(text) - len(redacted))::BIGINT AS chars_delta
         |FROM red GROUP BY lang ORDER BY lang""".stripMargin),
    Query("e9_pii_redact", e9PiiRedact,
      s"""WITH planted AS (
         |  SELECT lang, text ||
         |    (CASE WHEN doc_id % 7 = 0
         |          THEN ' mail user' || doc_id || '@example.com'
         |          ELSE '' END) ||
         |    (CASE WHEN doc_id % 11 = 0 THEN ' tel 555-867-5309'
         |          ELSE '' END) ||
         |    (CASE WHEN doc_id % 13 = 0
         |          THEN ' host 10.20.' || (doc_id % 256) || '.7'
         |          ELSE '' END) AS text
         |  FROM documents),
         |red AS (
         |  SELECT lang, text,
         |    regexp_replace(regexp_replace(regexp_replace(text,
         |      '$EmailRe', '<EMAIL>', 'g'),
         |      '$PhoneRe', '<PHONE>', 'g'),
         |      '$Ipv4Re', '<IP>', 'g') AS redacted
         |  FROM planted)
         |SELECT lang, count(*)::BIGINT AS n_docs,
         |  sum(len(regexp_extract_all(text, '$EmailRe')))::BIGINT AS n_emails,
         |  sum(len(regexp_extract_all(text, '$PhoneRe')))::BIGINT AS n_phones,
         |  sum(len(regexp_extract_all(text, '$Ipv4Re')))::BIGINT AS n_ips,
         |  sum(len(regexp_extract_all(redacted, '$EmailRe'))
         |    + len(regexp_extract_all(redacted, '$PhoneRe'))
         |    + len(regexp_extract_all(redacted, '$Ipv4Re')))::BIGINT
         |    AS residual_pii,
         |  sum(len(text) - len(redacted))::BIGINT AS chars_delta
         |FROM red GROUP BY lang ORDER BY lang""".stripMargin),
    Query("e9_boilerplate", e9Boilerplate,
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(string_split(text,' ')) - 2, 0) + 1),
        |    i -> string_split(text,' ')[i] || ' ' ||
        |         string_split(text,' ')[i+1] || ' ' ||
        |         string_split(text,' ')[i+2]))) AS tok
        |  FROM documents),
        |dfc AS (SELECT tok, count(*) AS df FROM sh GROUP BY tok),
        |j AS (SELECT s.doc_id, d.df FROM sh s JOIN dfc d USING (tok))
        |SELECT doc_id, count(*)::BIGINT AS n_shingles,
        |  sum(CASE WHEN df > 2 THEN 1 ELSE 0 END)::BIGINT AS n_boiler,
        |  round(sum(CASE WHEN df > 2 THEN 1 ELSE 0 END)::DOUBLE
        |    / count(*), 4) AS boiler_frac
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // Substring semantics restated per term (position > 0); the decoy
    // audit row re-derives '#'-absence from the corpus.
    Query("e9_dict_scan", e9DictScan,
      s"""WITH terms(term) AS (
         |  VALUES ${DictTerms.map("('" + _ + "')").mkString(",")}),
         |m AS (SELECT t.term, d.doc_id FROM terms t JOIN documents d
         |      ON position(t.term IN d.text) > 0)
         |SELECT * FROM (
         |  SELECT term, count(*)::BIGINT AS n_docs,
         |    sum(doc_id)::BIGINT AS sum_doc_ids
         |  FROM m GROUP BY term
         |  UNION ALL
         |  SELECT '#decoys' AS term,
         |    sum(CASE WHEN position('#' IN text) > 0 THEN 1 ELSE 0
         |        END)::BIGINT AS n_docs,
         |    0::BIGINT AS sum_doc_ids
         |  FROM documents)
         |ORDER BY term""".stripMargin),
    Query("e9_blocklist", e9Blocklist,
      s"""WITH planted AS (
         |  SELECT doc_id, source, text ||
         |    (CASE WHEN doc_id % 9 = 0 THEN ' get freecoins today'
         |          ELSE '' END) ||
         |    (CASE WHEN doc_id % 17 = 0 THEN ' cast darkmagic now'
         |          ELSE '' END) AS text
         |  FROM documents),
         |v AS (
         |  SELECT doc_id, source,
         |    CASE WHEN source IN (${BlockedSources.map("'" + _ + "'").mkString(",")})
         |           THEN 'blocked_source'
         |         WHEN regexp_matches(text, '$BannedTermRe')
         |           THEN 'blocked_term'
         |         ELSE 'kept' END AS verdict
         |  FROM planted)
         |SELECT source, count(*)::BIGINT AS n_in,
         |  sum(CASE WHEN verdict = 'blocked_source' THEN 1 ELSE 0 END)::BIGINT
         |    AS n_src_blocked,
         |  sum(CASE WHEN verdict = 'blocked_term' THEN 1 ELSE 0 END)::BIGINT
         |    AS n_term_blocked,
         |  sum(CASE WHEN verdict = 'kept' THEN 1 ELSE 0 END)::BIGINT AS n_kept,
         |  sum(CASE WHEN verdict = 'kept' THEN doc_id ELSE 0 END)::BIGINT
         |    AS sum_kept_ids
         |FROM v GROUP BY source ORDER BY source""".stripMargin),
    // Gopher top-n-gram fractions: every gram regenerated, per-doc
    // maxima and the integer basis-point arithmetic restated.
    Query("e9_topngram", e9TopNgram,
      """WITH b AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws,
        |    len(string_split(text, ' '))::BIGINT AS nt
        |  FROM documents),
        |g2 AS (
        |  SELECT doc_id, max(c)::BIGINT AS top2 FROM (
        |    SELECT doc_id,
        |      array_to_string(list_slice(ws, i, i + 1), ' ') AS g,
        |      count(*) AS c
        |    FROM b, unnest(range(1, nt)) AS t(i)
        |    WHERE nt >= 2 GROUP BY doc_id, g) GROUP BY doc_id),
        |g3 AS (
        |  SELECT doc_id, max(c)::BIGINT AS top3 FROM (
        |    SELECT doc_id,
        |      array_to_string(list_slice(ws, i, i + 2), ' ') AS g,
        |      count(*) AS c
        |    FROM b, unnest(range(1, nt - 1)) AS t(i)
        |    WHERE nt >= 3 GROUP BY doc_id, g) GROUP BY doc_id),
        |g4 AS (
        |  SELECT doc_id, max(c)::BIGINT AS top4 FROM (
        |    SELECT doc_id,
        |      array_to_string(list_slice(ws, i, i + 3), ' ') AS g,
        |      count(*) AS c
        |    FROM b, unnest(range(1, nt - 2)) AS t(i)
        |    WHERE nt >= 4 GROUP BY doc_id, g) GROUP BY doc_id)
        |SELECT b.doc_id, b.nt AS n_tokens,
        |  coalesce(top2, 0)::BIGINT AS top2,
        |  (CASE WHEN coalesce(top2, 0) >= 2
        |    THEN (top2 * 2 * 10000) // b.nt ELSE 0 END)::BIGINT AS dup2_bp,
        |  coalesce(top3, 0)::BIGINT AS top3,
        |  (CASE WHEN coalesce(top3, 0) >= 2
        |    THEN (top3 * 3 * 10000) // b.nt ELSE 0 END)::BIGINT AS dup3_bp,
        |  coalesce(top4, 0)::BIGINT AS top4,
        |  (CASE WHEN coalesce(top4, 0) >= 2
        |    THEN (top4 * 4 * 10000) // b.nt ELSE 0 END)::BIGINT AS dup4_bp
        |FROM b
        |LEFT JOIN g2 USING (doc_id)
        |LEFT JOIN g3 USING (doc_id)
        |LEFT JOIN g4 USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin),
    Query("e9_repetition", e9Repetition,
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |base AS (
        |  SELECT doc_id, len(ws)::BIGINT AS n_words,
        |    round(len(list_distinct(ws))::DOUBLE
        |      / greatest(len(ws), 1), 4) AS uniq_ratio,
        |    round(CASE WHEN len(ws) >= 2
        |      THEN 1.0 - len(list_distinct(list_transform(
        |             range(1, len(ws)),
        |             i -> ws[i] || ' ' || ws[i+1])))::DOUBLE / (len(ws) - 1)
        |      ELSE 0.0 END, 4) AS dup_bigram_ratio
        |  FROM w),
        |tw AS (
        |  SELECT doc_id, max(c) AS top_n FROM (
        |    SELECT doc_id, word, count(*) AS c
        |    FROM (SELECT doc_id, unnest(ws) AS word FROM w)
        |    GROUP BY doc_id, word)
        |  GROUP BY doc_id)
        |SELECT b.doc_id, b.n_words, b.uniq_ratio, b.dup_bigram_ratio,
        |  round(t.top_n::DOUBLE / b.n_words, 4) AS top_word_ratio
        |FROM base b JOIN tw t USING (doc_id) ORDER BY doc_id""".stripMargin),
  )
}
