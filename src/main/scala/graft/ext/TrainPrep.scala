package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Q, Query, Tables}
import graft.Tables.{load => t}

/** Training-dataset preparation operators (EXT, SURVEY §2.12; no
  * reference analog — the reference stops at relational ETL). The three
  * operations every LLM training pipeline runs after curation:
  *
  *   - deterministic train/val/test split (reproducible across runs and
  *     engines — multiplicative hashing on the id, no RNG state);
  *   - token-budget sequence packing (assign documents to fixed-budget
  *     bins so training rows waste no context window);
  *   - train/test contamination detection (n-gram containment of each
  *     holdout document against the training split).
  *
  * All three are map/equi-join/window shapes — no all-pairs anywhere.
  */
object TrainPrep {

  // ------------------------------------------------------ hash split

  /** Deterministic split bucket in [0, 1): Knuth multiplicative hash of
    * the integer id, divided by 2³². Pure integer arithmetic then a
    * power-of-two division — bit-identical in any engine (no RNG, no
    * engine hash function), so the split is stable across reruns,
    * engines, and partitionings. Map-only.
    *
    * Ids past ~3.5·10⁹ are real at corpus scale and would overflow
    * id·2654435761 — which under Spark 4's default ANSI mode THROWS
    * (not wraps). The id is folded into [0, 2³¹) first, which keeps the
    * product under 2⁶³ for the whole long range (incl. negatives, via
    * pmod); for in-range nonnegative ids both pmods are identities —
    * but every SQL oracle restates the FOLDED form
    * `((id % 2147483648) * 2654435761) % 4294967296` anyway, so the
    * restatement stays exact (and DuckDB-overflow-proof) if ids ever
    * grow past 2³¹. */
  def splitBucket(id: Column): Column =
    pmod(pmod(id, lit(2147483648L)) * lit(2654435761L),
      lit(4294967296L)) / lit(4294967296.0)

  /** Assign each row a split label from cumulative fractions, e.g.
    * Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1). */
  def hashSplit(df: DataFrame, idCol: String,
      fracs: Seq[(String, Double)]): DataFrame = {
    val u = splitBucket(col(idCol))
    val cum = fracs.scanLeft(0.0)(_ + _._2).tail
    val label = fracs.zip(cum).init.foldRight(
      lit(fracs.last._1): Column) { case (((name, _), hi), rest) =>
      when(u < hi, name).otherwise(rest)
    }
    df.withColumn("split", label)
  }

  // ------------------------------------------------- sequence packing

  /** Token-budget packing: within each `partCol` shard, documents are
    * laid out in `idCol` order and each is assigned to the bin its
    * STARTING token offset falls in (`floor(prefix_tokens / budget)`)
    * — the streaming-concatenation layout trainers use; a document may
    * straddle its bin boundary. One window per shard: parallelism is
    * across shards (at 100 TB, shard = (lang, hash-bucket) keeps every
    * window bounded; here lang alone is the natural shard). */
  def packByTokenBudget(df: DataFrame, partCol: String, idCol: String,
      textCol: String, budget: Int): DataFrame = {
    val w = Window.partitionBy(col(partCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(partCol), col(idCol),
      TextStats.bpeishTokenCount(col(textCol)).cast("long").as("toks"))
      .withColumn("cum", sum(col("toks")).over(w))
      .withColumn("bin", expr(s"(cum - toks) DIV $budget"))
  }

  // ------------------------------------------- stratified sampling

  /** Deterministic stratified sample: within each stratum, rank rows by
    * the multiplicative-hash bucket (id as tiebreak) and keep the first
    * `ceil(frac · n_stratum)` — an exact per-stratum quota, reproducible
    * across runs/engines/partitionings (same no-RNG rationale as
    * [[splitBucket]]). Two window passes over each stratum, no shuffle
    * beyond the stratum partitioning; at 100 TB a skewed stratum splits
    * into (stratum, hash-bucket) sub-windows with per-bucket quotas. */
  def stratifiedSample(df: DataFrame, stratumCol: String, idCol: String,
      frac: Double): DataFrame = {
    val order = Window.partitionBy(col(stratumCol))
      .orderBy(splitBucket(col(idCol)), col(idCol))
    val whole = Window.partitionBy(col(stratumCol))
    df.withColumn("rk", row_number().over(order))
      .withColumn("n_stratum", count(lit(1)).over(whole))
      .filter(col("rk") <= ceil(col("n_stratum") * lit(frac)))
      .drop("rk", "n_stratum")
  }

  // ------------------------------- weighted sampling (A-ES top-k)

  /** Deterministic weighted sampling WITHOUT replacement via the
    * Efraimidis–Spirakis A-ES scheme: each row gets key = u^(1/w) for
    * a uniform u and weight w, and the global k largest keys are the
    * sample — inclusion probability proportional to weight, no
    * sequential state. The uniform comes from the same multiplicative
    * hash as [[splitBucket]] shifted to the bin CENTER ((h+0.5)/2³²,
    * exactly representable, never 0 — so u^(1/w) is always defined and
    * bit-identical across engines).
    *
    * Scale shape: key assignment is map-only; selection is a
    * distributed top-k (TakeOrderedAndProject — per-partition heaps of
    * k, never a global sort), so the corpus is never shuffled. This is
    * THE cluster-scale weighted sampler: quality-weighted corpus
    * selection in one pass. */
  def weightedSample(df: DataFrame, idCol: String, weight: Column,
      k: Int): DataFrame = {
    val u = splitBucket(col(idCol)) + lit(0.5 / 4294967296.0)
    // The A-ES key is rounded to a 12-decimal grid BEFORE the top-k
    // cut: pow() may differ by an ulp across libm implementations, and
    // an ulp at the k-th key would swap membership between engines.
    // The grid absorbs it; residual ties break on the id.
    df.withColumn("aes_key", round(pow(u, lit(1.0) / weight), 12))
      .orderBy(col("aes_key").desc, col(idCol))
      .limit(k)
  }

  // ------------------------------------------------- chunking

  /** Sliding-window document chunking — the universal pre-training/RAG
    * splitter: windows of `size` words every `stride` words (overlap =
    * size − stride). Map-only: chunk indices come from a computed
    * `sequence` exploded per doc, the window itself is an array slice —
    * no shuffle at all; output order is (doc, chunk). A short doc
    * yields exactly one (possibly short) chunk. */
  def chunkByWords(docs: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, stride: Int): DataFrame = {
    require(stride > 0 && chunkSize >= stride, "need 0 < stride <= chunkSize")
    val words = split(col(textCol), " ")
    val n = size(words)
    val nChunks = when(n <= chunkSize, lit(1L))
      .otherwise(ceil((n - chunkSize).cast("double") / stride) + 1L)
    docs.select(col(idCol).as("doc_id"), words.as("ws"), nChunks.as("nc"))
      .select(col("doc_id"),
        explode(sequence(lit(0L), col("nc") - 1L)).as("chunk_id"),
        col("ws"))
      .select(col("doc_id"), col("chunk_id"),
        slice(col("ws"), (col("chunk_id") * stride + 1).cast("int"),
          lit(chunkSize)).as("cw"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("cw")).cast("long").as("n_words"),
        element_at(col("cw"), 1).as("first_word"),
        element_at(col("cw"), -1).as("last_word"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  // ------------------------------------------------- mixture rebalance

  /** Per-source acceptance rates that rebalance the corpus to a target
    * mixture by downsampling only: rate_s = min(1, target_s·N_out/n_s)
    * with N_out = min_s(n_s/target_s) — the largest output size whose
    * mixture hits the target without upsampling any source; the binding
    * source keeps everything. `weight` is the (unnormalized) target
    * weight as an expression over the source column. The rate table is
    * S rows: the two one-row crossJoins assemble scalars over it, and
    * the table then broadcasts to the corpus — the corpus itself never
    * shuffles and is filtered map-side. */
  def mixtureRates(df: DataFrame, sourceCol: String,
      weight: Column): DataFrame = {
    val counts = df.groupBy(col(sourceCol)).agg(count(lit(1)).as("n_s"))
      .withColumn("w", weight)
    val tot = counts.agg(sum(col("w")).as("w_tot"))
    val withTot = counts.crossJoin(tot)
    val nOut = withTot
      .agg(min(col("n_s") / (col("w") / col("w_tot"))).as("n_out"))
    withTot.crossJoin(nOut)
      .select(col(sourceCol), col("n_s"),
        least(lit(1.0),
          (col("w") / col("w_tot")) * col("n_out") / col("n_s"))
          .as("rate"))
  }

  /** Apply the mixture: deterministic hash sampling (same
    * [[splitBucket]] arithmetic as the split — no RNG) at each source's
    * rate; the S-row rate table broadcasts. */
  def applyMixture(df: DataFrame, idCol: String, sourceCol: String,
      weight: Column): DataFrame =
    df.join(
      broadcast(mixtureRates(df, sourceCol, weight)
        .select(col(sourceCol), col("rate"))),
      Seq(sourceCol))
      .filter(splitBucket(col(idCol)) < col("rate"))

  /** Mixture rates WITHOUT the no-upsampling cap: rate_s =
    * target_s · totalOut / n_s may exceed 1 — hot target sources
    * replicate. Same S-row scale shape as [[mixtureRates]]. */
  def mixtureRatesUnbounded(df: DataFrame, sourceCol: String,
      weight: Column): DataFrame = {
    val counts = df.groupBy(col(sourceCol)).agg(count(lit(1)).as("n_s"))
      .withColumn("w", weight)
    val tot = counts.agg(sum(col("w")).as("w_tot"),
      sum(col("n_s")).as("total"))
    counts.crossJoin(tot)
      .select(col(sourceCol), col("n_s"),
        ((col("w") / col("w_tot")) * col("total") / col("n_s")).as("rate"))
  }

  /** Apply a mixture WITH replacement — deterministic: every row gets
    * ⌊rate⌋ copies plus one more when its hash bucket falls under the
    * fractional part (no RNG, reproducible across engines/partitions/
    * reruns). Replication is a map-side `explode(sequence(...))` after
    * the S-row rate table broadcasts — the corpus never shuffles; rows
    * with zero copies are filtered BEFORE the explode (Spark's
    * `sequence(1, 0)` would count DOWN, not emit empty). */
  def applyMixtureWithReplacement(df: DataFrame, idCol: String,
      sourceCol: String, weight: Column): DataFrame = {
    val rates = mixtureRatesUnbounded(df, sourceCol, weight)
      .select(col(sourceCol), col("rate"))
    val withCopies = df.join(broadcast(rates), Seq(sourceCol))
      .withColumn("copies",
        (floor(col("rate")) +
          when(splitBucket(col(idCol)) < col("rate") - floor(col("rate")), 1L)
            .otherwise(0L)).cast("int"))
      .filter(col("copies") >= 1)
    withCopies.withColumn("copy_n",
      explode(sequence(lit(1), col("copies"))))
  }

  // ------------------------------------------------- contamination

  /** Train/test contamination: for each holdout document, the maximum
    * n-gram containment against any training document — `|shared rare
    * shingles| / |holdout's rare shingles|` — plus how many training
    * documents exceed `threshold`. Blocking is the shingle equi-join;
    * shingles appearing in more than `maxDf` documents are dropped
    * first (boilerplate is not contamination signal, and the df cap
    * bounds the join fanout per shingle — the same role the prefix
    * filter plays in the exact Jaccard join). Holdout = id % holdoutMod
    * == 0, a deterministic stand-in for a real eval-set id list. */
  def contamination(docs: DataFrame, idCol: String, textCol: String,
      holdoutMod: Int = 50, shingleN: Int = 3, maxDf: Long = 100,
      threshold: Double = 0.5): DataFrame = {
    val sh = docs.select(col(idCol).as("id"),
      explode(Dedup.shingles(col(textCol), shingleN)).as("tok"))
    val dfc = sh.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val rare = sh.join(dfc.filter(col("df") <= maxDf).select(col("tok")),
      Seq("tok"))
    val test = rare.filter(col("id") % holdoutMod === 0)
      .withColumnRenamed("id", "test_id")
    val train = rare.filter(col("id") % holdoutMod =!= 0)
      .withColumnRenamed("id", "train_id")
    val sizes = test.groupBy(col("test_id")).agg(count(lit(1)).as("n_rare"))
    val shared = test.join(train, Seq("tok"))
      .groupBy(col("test_id"), col("train_id"))
      .agg(count(lit(1)).as("shared"))
    val per = shared.join(sizes, Seq("test_id"))
      .withColumn("containment",
        col("shared").cast("double") / col("n_rare"))
    val agg = per.groupBy(col("test_id")).agg(
      round(max(col("containment")), 4).as("max_containment"),
      sum(when(col("containment") >= threshold, 1L).otherwise(0L))
        .as("n_contaminating"))
    docs.filter(col(idCol) % holdoutMod === 0)
      .select(col(idCol).as("test_id"))
      .join(agg, Seq("test_id"), "left")
      .select(col("test_id"),
        coalesce(col("max_containment"), lit(0.0)).as("max_containment"),
        coalesce(col("n_contaminating"), lit(0L)).as("n_contaminating"))
      .orderBy(col("test_id"))
  }

  // ------------------------------------------------------------ queries

  /** E8: deterministic 80/10/10 split — per-split counts plus an id
    * checksum so the oracle pins the exact membership, not just sizes. */
  private val e8HashSplit: Q = (s, dir) =>
    hashSplit(Tables.spread(t(s, dir, "documents")), "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_ids"))
      .orderBy(col("split"))

  /** E8b: per-language 2048-token packing — bin-level stats. */
  private val e8Pack: Q = (s, dir) =>
    packByTokenBudget(Tables.spread(t(s, dir, "documents")), "lang", "doc_id", "text", 2048)
      .groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("bin_tokens"))
      .orderBy(col("lang"), col("bin"))

  /** E8c: contamination of the deterministic holdout vs the rest. */
  private val e8Contamination: Q = (s, dir) =>
    contamination(Tables.spread(t(s, dir, "documents")), "doc_id", "text")

  /** E8d: 20% per-language sample — exact quotas plus an id checksum so
    * the oracle pins the exact membership, not just the sizes. */
  private val e8Stratified: Q = (s, dir) =>
    stratifiedSample(Tables.spread(t(s, dir, "documents")), "lang", "doc_id", 0.2)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("sum_ids"))
      .orderBy(col("lang"))

  // ------------------------------------------------- priority sample

  /** Weight-proportional sample WITHOUT replacement + unbiased
    * subset-sum estimator — PRIORITY SAMPLING (Duffield, Lund, Thorup,
    * "Priority sampling for estimation of arbitrary subset sums",
    * JACM'07): each row gets priority q = w/u with u uniform in (0,1];
    * the k highest-priority rows per group are the sample, the
    * (k+1)-th priority is the threshold τ, and ŵ = max(w, τ) per
    * sampled row is unbiased for any subset sum — the scheme training
    * pipelines use to downsample a corpus stratum by token mass while
    * keeping sums estimable. Near-optimal variance among all k-sample
    * schemes (Szegedy'06 proved within a factor of the optimum).
    *
    * Determinism and engine parity, the hard part: u derives from the
    * [[splitBucket]] Knuth hash (+1 so u > 0 — pure integers, no RNG),
    * and the sort key w·2³²/u is ONE correctly-rounded IEEE division
    * of two exactly-representable integers (w capped at 2²⁰ keeps
    * w·2³² ≤ 2⁵² < 2⁵³), so Spark and DuckDB compute bit-identical
    * doubles — unlike pow/ln keys, which are not correctly rounded and
    * flip near-ties across engines. Ties break on id. τ and the
    * estimator are emitted in integer MICRO-UNITS via exact
    * DECIMAL(38,0)/HUGEINT arithmetic ((w·2³²·10⁶) div u) — integers
    * never round (the w8/e9 half-boundary rule).
    *
    * Scale shape: one map to key, one per-group top-(k+1) — the
    * row_number ≤ const filter plans as WindowGroupLimit (partial
    * per-partition limit before the shuffle, like l3_topk), then a
    * 1-row-per-group broadcast τ join. No global sort, no all-pairs. */
  /** (lang, doc_id, w, u) priority-keyed rows — the mergeable unit:
    * any union of keyed row sets re-ranks to the same top-k, so a
    * stream can maintain just the per-group top-(k+1) as state. */
  private[graft] def priorityKeyed(docs: DataFrame): DataFrame =
    docs.select(col("lang"), col("doc_id"),
      least(col("n_chars").cast("long"), lit(1048576L)).as("w"),
      (pmod(pmod(col("doc_id"), lit(2147483648L)) * lit(2654435761L),
        lit(4294967296L)) + lit(1L)).as("u"))

  /** Per-lang top-(k+1) of keyed rows by priority (w·2³²/u, id ties). */
  private[graft] def priorityTop(keyed: DataFrame, k: Int): DataFrame = {
    val key = (col("w") * lit(4294967296L)).cast("double") /
      col("u").cast("double")
    keyed
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("lang")).orderBy(key.desc, col("doc_id"))))
      .filter(col("rn") <= k + 1)
  }

  /** Sample + estimator from the ranked survivors. τ rides a second
    * lang-partitioned window over the ≤ k+1 rows (re-using the first
    * window's partitioning — no new shuffle, no lineage break that
    * would hide the WindowGroupLimit from the plan pin, no second pass
    * over the corpus). */
  private[graft] def priorityFinish(ranked: DataFrame, k: Int): DataFrame =
    ranked
      .withColumn("tau_micro", max(when(col("rn") === k + 1,
          expr("(CAST(w AS DECIMAL(38,0)) * 4294967296 * 1000000) DIV u")))
        .over(Window.partitionBy(col("lang"))))
      .filter(col("rn") <= k)
      .select(col("lang"), col("rn"), col("doc_id"),
        (col("w") * lit(1000000L)).as("w_micro"),
        greatest(col("w") * lit(1000000L),
          coalesce(col("tau_micro"), lit(0L))).as("est_micro"))

  private def prioritySampleRows(docs: DataFrame, k: Int): DataFrame =
    priorityFinish(priorityTop(priorityKeyed(docs), k), k)

  /** E8n: per-lang 32-row priority sample — membership, rank order,
    * and the max(w, τ) estimator all value-checked (the oracle
    * re-derives the identical integer/double arithmetic). */
  private val e8PrioritySample: Q = (s, dir) =>
    prioritySampleRows(Tables.spread(t(s, dir, "documents")), k = 32)
      .orderBy(col("lang"), col("rn"))

  /** E8e: rebalance the uniform 20-source corpus to a 2:1 target
    * (sources 0-4 weighted double) — rates, kept counts, and an id
    * checksum all value-checked. */
  private val e8Mixture: Q = (s, dir) => {
    val docs = Tables.spread(t(s, dir, "documents"))
    def weight = when(
      col("source").substr(lit(4), lit(10)).cast("int") < 5, 2.0)
      .otherwise(1.0)
    val rates = mixtureRates(docs, "source", weight)
    val kept = applyMixture(docs, "doc_id", "source", weight)
    rates.join(
      kept.groupBy(col("source")).agg(
        count(lit(1)).as("n_kept"), sum(col("doc_id")).as("sum_kept_ids")),
      Seq("source"), "left")
      .select(col("source"), col("n_s").as("n_in"),
        round(col("rate"), 6).as("rate"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("sum_kept_ids"), lit(0L)).as("sum_kept_ids"))
      .orderBy(col("source"))
  }

  /** E8h: A-ES weighted sample of 200 docs, sources 0-4 weighted 4× —
    * per-source counts plus an id checksum pin the exact membership
    * (the oracle computes the identical keys and top-200 cut). */
  private val e8Weighted: Q = (s, dir) => {
    val weight = when(
      col("source").substr(lit(4), lit(10)).cast("int") < 5, 4.0)
      .otherwise(1.0)
    weightedSample(Tables.spread(t(s, dir, "documents")), "doc_id", weight, k = 200)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_sampled"), sum(col("doc_id")).as("sum_ids"))
      .orderBy(col("source"))
  }

  /** E8f: 32-word chunks every 24 words over the corpus. */
  private val e8Chunk: Q = (s, dir) =>
    chunkByWords(Tables.spread(t(s, dir, "documents")), "doc_id", "text",
      chunkSize = 32, stride = 24)

  /** E8g: rebalance WITH replacement to the same corpus size — sources
    * 0-4 weighted 4× replicate (rate ≈ 2.3), the rest downsample
    * (rate ≈ 0.57); replica counts, kept-doc counts, and a
    * replication-weighted id checksum all value-gated against the
    * oracle's closed-form copy arithmetic. */
  private val e8Upsample: Q = (s, dir) => {
    val docs = Tables.spread(t(s, dir, "documents"))
    def weight = when(
      col("source").substr(lit(4), lit(10)).cast("int") < 5, 4.0)
      .otherwise(1.0)
    applyMixtureWithReplacement(docs, "doc_id", "source", weight)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_out"),
        countDistinct(col("doc_id")).as("n_docs_kept"),
        sum(col("doc_id")).as("sum_weighted_ids"))
      .orderBy(col("source"))
  }

  // ------------------------------------------------- global shuffle

  /** Deterministic global corpus shuffle into `nShards` shards — the
    * shuffle-once-at-corpus-creation step every training pipeline runs
    * so that sequential shard reads ARE the random order. No RNG: the
    * permutation key is the same multiplicative hash as
    * [[splitBucket]] kept in INTEGER form, so both engines order
    * identically. shard = h mod nShards; position within a shard =
    * row_number over (h, id) — the window is PARTITIONED by shard, so
    * at 100 TB each task sorts one corpus/nShards slice (pick nShards
    * so a shard fits an executor; writers then emit one file per
    * shard, already in read order). Nothing global except the shuffle
    * by shard key. */
  def shuffleShards(df: DataFrame, idCol: String,
      nShards: Int): DataFrame = {
    val h = pmod(pmod(col(idCol), lit(2147483648L)) * lit(2654435761L),
      lit(4294967296L))
    val w = Window.partitionBy(col("shard")).orderBy(col("h"), col(idCol))
    df.withColumn("h", h)
      .withColumn("shard", pmod(col("h"), lit(nShards.toLong)).cast("int"))
      .withColumn("pos", row_number().over(w))
      .drop("h")
  }

  /** E8i: 16-shard deterministic shuffle of the documents corpus. The
    * per-shard rollup pins the EXACT permutation, not just membership:
    * `order_digest = Σ pos·doc_id` changes if any two documents within
    * a shard swap places, and the head/tail doc ids pin the endpoints.
    * Oracle recomputes the identical integer-hash order. */
  private val e8Shuffle: Q = (s, dir) =>
    shuffleShards(Tables.spread(t(s, dir, "documents")), "doc_id", nShards = 16)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("pos") * col("doc_id")).as("order_digest"),
        min(when(col("pos") === 1, col("doc_id"))).as("first_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy(col("shard"))

  /** Cap documents per source domain — the crawl-balance op every
    * web-scale corpus runs (a handful of giant domains otherwise
    * dominate the token budget; cf. the per-domain caps in C4/RefinedWeb
    * style pipelines). Deterministic priority: keep the `cap`
    * lowest-doc_id docs per source. The row_number ≤ cap shape plans as
    * WindowGroupLimit (rank pushed into a per-group partial limit
    * before the full sort — the l3_topk scale shape), so each source
    * group truncates map-side instead of fully sorting the corpus. */
  def domainCap(docs: DataFrame, cap: Int): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    docs.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= cap).drop("rk")
  }

  /** E8j: per-domain cap over documents (cap=3), with the dropped mass
    * reported per source — kept set AND what the cap cost are both
    * pinned (a silent-cap audit, per the no-silent-caps convention). */
  private val e8DomainCap: Q = (s, dir) => {
    val docs = Tables.spread(t(s, dir, "documents"))
    val kept = domainCap(docs, cap = 3)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("sum_kept_ids"))
    val all = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_total"))
    all.join(kept, Seq("source"))
      .select(col("source"), col("n_total"), col("n_kept"),
        (col("n_total") - col("n_kept")).as("n_dropped"),
        col("sum_kept_ids"))
      .orderBy(col("source"))
  }

  // ------------------------------------------------- DSIR selection

  /** Data Selection via Importance Resampling (Xie et al., NeurIPS
    * 2023): score every raw document by how target-like its token
    * distribution is — log w(x) = Σ_tokens (ln p̂_target(tok) −
    * ln p̂_raw(tok)) under two add-1-smoothed bag-of-words models — and
    * keep the top-k. The DSIR dataflow at any scale: two keyed token
    * counts (target and raw — both partial-agg'd hash aggregations),
    * one vocab-sized log-ratio table joined back onto the token stream
    * (broadcastable: the LM is vocabulary-sized, not corpus-sized; the
    * paper's 10⁴ hashed n-gram buckets cap this key space — swapping
    * the token key for `hash(tok) % B` is the only change at 100 TB),
    * one per-doc sum, one bounded TakeOrdered top-k. The paper's
    * Gumbel-top-k resampling is replaced by deterministic top-k with a
    * doc_id tie-break — reproducibility over sampling noise, the same
    * trade every deterministic rerun of a selection pipeline makes.
    * Parity: per-token log ratios quantize to exact MICRO-UNIT LONGS
    * (round(lw·10⁶)) before the per-doc sum — summing doubles in
    * engine-dependent order moves the 4th decimal at the top-k
    * boundary; summing longs is exact in any order, so `score_e6` is
    * bit-stable across engines and partitionings. */
  def dsirSelect(docs: DataFrame, isTarget: Column, k: Int): DataFrame =
    dsirScore(docs.select(col("doc_id"), isTarget.as("tgt"),
      explode(split(col("text"), " ")).as("w")), k)

  /** The paper's production variant: tokens hashed into `buckets`
    * fixed n-gram buckets (Xie et al. §2.2) — the importance model's
    * key space becomes a CONSTANT independent of corpus vocabulary,
    * which is what bounds the LM join's broadcast at 100 TB (a raw
    * web-scale vocabulary is billions of keys; 10⁴ buckets is a few
    * hundred KB). Bucket = the first 6 hex digits of md5(token) mod
    * `buckets` — md5 bytes and the hex-parse are bit-identical in both
    * engines, so the bucketing (and therefore every score) restates
    * exactly. Collisions are the method's stated trade: they blur the
    * importance weights, never break determinism. */
  def dsirSelectHashed(docs: DataFrame, isTarget: Column, k: Int,
      buckets: Int): DataFrame =
    dsirScore(docs
      .select(col("doc_id"), isTarget.as("tgt"),
        explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"), col("tgt"),
        (conv(substring(md5(col("tok")), 1, 6), 16, 10).cast("long")
          % buckets).as("w")), k)

  /** Shared DSIR scoring core over a (doc_id, tgt, w) token stream —
    * `w` is a raw token ([[dsirSelect]]) or a hashed bucket
    * ([[dsirSelectHashed]]); the dataflow is identical. */
  private def dsirScore(words: DataFrame, k: Int): DataFrame = {
    val raw = words.groupBy(col("w")).agg(count(lit(1)).as("cr"))
    val tgtC = words.filter(col("tgt")).groupBy(col("w"))
      .agg(count(lit(1)).as("ct"))
    val tots = words.agg(count(lit(1)).as("rTot"),
      count_if(col("tgt")).as("tTot"), countDistinct(col("w")).as("v"))
    val lm = raw.join(tgtC, Seq("w"), "left")
      .na.fill(0L, Seq("ct")).crossJoin(tots)
      .select(col("w"), round((
        log((col("ct") + 1).cast("double") / (col("tTot") + col("v"))) -
        log((col("cr") + 1).cast("double") / (col("rTot") + col("v"))))
        * 1e6).cast("long").as("lw_e6"))
    words.join(lm, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("lw_e6")).as("score_e6"))
      .orderBy(col("score_e6").desc, col("doc_id"))
      .limit(k)
  }

  /** E14: DSIR selection over documents — target distribution = the
    * English slice, raw = the whole corpus; keep the 200 most
    * target-like docs. The oracle re-derives both LMs and the exact
    * top-200, so a wrong smoothing denominator, a lost token, or an
    * unstable tie-break all hash-fail. */
  private val e14Dsir: Q = (s, dir) =>
    dsirSelect(Tables.spread(t(s, dir, "documents")), col("lang") === "en", 200)

  /** E14b: the hashed-bucket DSIR variant under the same gate — the
    * scale path e14's doc promises, proven: same target slice, same
    * top-200, key space capped at 10⁴ buckets; the oracle re-derives
    * the bucketing from md5 hex and both LMs over it. */
  private val e14bDsirHashed: Q = (s, dir) =>
    dsirSelectHashed(Tables.spread(t(s, dir, "documents")), col("lang") === "en", 200,
      buckets = 10000)

  /** Temperature-sampled mixture + epoch planning — the two published
    * rules a data-constrained pretraining run combines: sampling
    * weights w_s ∝ p_s^α flatten the source distribution (α = 0.3, the
    * mC4/mT5 and XLM-R low-resource upweighting rule), and per-source
    * epochs = target/available tokens are planned against the ~4-epoch
    * near-free repetition regime of Muennighoff et al. (NeurIPS 2023,
    * "Scaling Data-Constrained Language Models"), whose fitted decay
    * R* ≈ 15.4 gives the effective-unique-token value of each plan
    * line: eff = avail·R*·(1 − exp(−epochs/R*)). One S-row plan from
    * one keyed token count — the whole computation past the count is
    * broadcast-sized at any corpus scale. Shares (hence targets,
    * epochs, eff) round per ROW before emission, the rounding-parity
    * convention. */
  def temperatureMixturePlan(docs: DataFrame, sourceCol: String,
      textCol: String, alpha: Double, budgetX: Double): DataFrame = {
    val avail = docs.groupBy(col(sourceCol))
      .agg(sum(TextStats.bpeishTokenCount(col(textCol)).cast("long"))
        .as("avail_tokens"))
    val tot = avail.agg(sum(col("avail_tokens")).as("total"))
    val w = avail.crossJoin(tot).withColumn("wgt",
      pow(col("avail_tokens").cast("double") / col("total"), lit(alpha)))
    val wTot = w.agg(sum(col("wgt")).as("w_tot"))
    w.crossJoin(wTot)
      .withColumn("share", round(col("wgt") / col("w_tot"), 6))
      .withColumn("target_tokens",
        round(lit(budgetX) * col("total") * col("share"), 0).cast("long"))
      .withColumn("epochs", round(col("target_tokens").cast("double") /
        col("avail_tokens"), 4))
      .select(col(sourceCol), col("avail_tokens"), col("share"),
        col("target_tokens"), col("epochs"),
        (col("epochs") > 4.0).as("beyond_free_repetition"),
        round(col("avail_tokens") * lit(15.4) *
          (lit(1.0) - exp(-col("epochs") / lit(15.4))), 2)
          .as("effective_tokens"))
  }

  private val e17MixturePlan: Q = (s, dir) =>
    temperatureMixturePlan(Tables.spread(t(s, dir, "documents")), "source", "text",
      alpha = 0.3, budgetX = 8.0)
      .orderBy(col("source"))

  /** Leakage-safe train/val/test split: near-duplicate CLUSTERS, not
    * documents, are the unit of assignment — the decontamination rule
    * the GPT-3/Gopher train-test-overlap analyses motivate (a test doc
    * whose near-twin sits in train is a leak no per-doc hash split can
    * prevent; here it is structurally impossible). `pairs` is any
    * near-dup pair set (a, b) — PPJoin, MinHash, SimHash, embedding —
    * so the split composes with every pair generator in [[Dedup]];
    * clusters come from the large-star/small-star connected components
    * (O(log n) rounds at any diameter), each doc's representative is
    * its component minimum (its own id for singletons — for them this
    * degrades EXACTLY to [[hashSplit]]), and the representative's
    * [[splitBucket]] hash assigns the whole cluster to one split.
    * Returns (idCol, rep, split); map-only past the CC join. */
  def leakSafeSplit(df: DataFrame, idCol: String, pairs: DataFrame,
      fracs: Seq[(String, Double)]): DataFrame = {
    val comps = Dedup.connectedComponents(pairs)
      .withColumnRenamed("id", idCol)
    val rep = df.select(col(idCol)).join(comps, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("comp"), col(idCol)).as("rep"))
    hashSplit(rep, "rep", fracs)
  }

  /** E16: leakage-safe split under the gate — exact trigram-Jaccard
    * pairs (deterministic, so both engines derive the identical
    * cluster structure), CC clustering, cluster-keyed 80/10/10 split.
    * The result carries per-split memberships (count + id checksum),
    * the cluster count, and the CROSS-SPLIT LEAK COUNT — computed
    * independently on both engines, and 0 only if clustering and
    * assignment are both right; a lost pair or a split cluster also
    * shifts the checksums. */
  private val e16LeakSplit: Q = (s, dir) => {
    val docs = Tables.spread(t(s, dir, "documents"))
    // The PPJoin subtree is the expensive part — run it once; the CC
    // operator and the leak audit both read the checkpoint.
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleN = 3, threshold = 0.75).localCheckpoint(eager = false)
    val lab = leakSafeSplit(docs, "doc_id", pairs,
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .localCheckpoint(eager = false)
    val leaks = pairs
      .join(lab.as("la"), col("a") === col("la.doc_id"))
      .join(lab.as("lb"), col("b") === col("lb.doc_id"))
      .filter(col("la.split") =!= col("lb.split"))
      .agg(count(lit(1)).as("leaked_pairs"))
    lab.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("rep")).as("n_clusters"),
        sum(col("doc_id")).as("id_checksum"))
      .crossJoin(leaks)
      .select(col("split"), col("n_docs"), col("n_clusters"),
        col("id_checksum"), col("leaked_pairs"))
      .orderBy(col("split"))
  }

  /** E15: CCNet-style perplexity bucketing (Wenzek et al., LREC 2020):
    * every document is scored by its mean unigram negative
    * log-likelihood under the corpus LM (the e4_logprob signal
    * standing in for CCNet's KenLM), then split PER LANGUAGE into
    * head/middle/tail terciles — CCNet's observation is that
    * perplexity is only comparable within a language, so the tercile
    * window partitions by lang; downstream, head+middle is the kept
    * slice and tail is re-reviewed. Dataflow: one vocabulary-keyed LM
    * join (e4's shape), one per-doc agg, one lang-partitioned ntile
    * window, one rollup. At 100 TB the tercile boundaries would come
    * from per-language approx percentiles instead of a full
    * within-language sort; the bucketing semantics are unchanged.
    * Rounding parity: per-doc score rounds to 6 BEFORE the window and
    * rollup (avg-of-rounded, per CLAUDE.md). */
  def ccnetBuckets(docs: DataFrame): DataFrame = {
    val words = docs.select(col("doc_id"), col("lang"),
      explode(split(col("text"), " ")).as("w"))
    val freq = words.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val tot = words.agg(count(lit(1)).as("total"))
    val lm = freq.crossJoin(tot).select(col("w"),
      (-log(col("c").cast("double") / col("total"))).as("nll"))
    val scored = words.join(lm, Seq("w"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(round(avg(col("nll")), 6).as("score"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("score"), col("doc_id"))
    scored.select(col("lang"), col("score"), ntile(3).over(w).as("bucket"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("score")), 4).as("avg_score"),
        min(col("score")).as("min_score"),
        max(col("score")).as("max_score"))
      .orderBy(col("lang"), col("bucket"))
  }

  private val e15CcnetBuckets: Q = (s, dir) =>
    ccnetBuckets(Tables.spread(t(s, dir, "documents")))

  /** E8: curriculum schedule — difficulty = chars per whitespace token
    * (rounded to 4 so no raw float crosses the rank boundary), quartile
    * buckets via ntile over (difficulty, doc_id), then the standard
    * interleaved pacing: position p takes the p-th easiest from each
    * bucket round-robin (row_number within bucket, then bucket). All
    * three windows are rank-only. The partition-less windows are the
    * gate-SF spelling of ONE global range-partitioned sort (ntile's
    * bucket boundaries come from the same sort at any scale); the
    * schedule itself is consumed top-N. */
  def curriculumSchedule(docs: DataFrame, nBuckets: Int,
      limit: Int): DataFrame = {
    val d = docs.select(col("doc_id"),
      round(col("n_chars").cast("double") /
        greatest(size(split(col("text"), " ")), lit(1)), 4)
        .as("difficulty"))
    val bw = Window.orderBy(col("difficulty"), col("doc_id"))
    val iw = Window.partitionBy(col("bucket"))
      .orderBy(col("difficulty"), col("doc_id"))
    d.withColumn("bucket", ntile(nBuckets).over(bw))
      .withColumn("rn", row_number().over(iw))
      .withColumn("pos", row_number().over(
        Window.orderBy(col("rn"), col("bucket"), col("doc_id"))))
      .filter(col("pos") <= limit)
      .select(col("pos"), col("doc_id"), col("bucket"), col("rn"),
        col("difficulty"))
      .orderBy(col("pos"))
  }

  private val e8Curriculum: Q = (s, dir) =>
    curriculumSchedule(Tables.spread(t(s, dir, "documents")), nBuckets = 4, limit = 40)

  /** E8: length-bucketed batching — sort docs by token length before
    * cutting fixed-size batches so padding-to-max inside each batch is
    * minimal (the bucketing trick that saves real FLOPs at training
    * time; random batches pad every short doc up to the batch's
    * longest). Per batch, waste = n_docs·max(tokens) − Σ tokens; the
    * gate emits the sorted and arrival-order rollups side by side so
    * the oracle pins both the bucketing arithmetic AND the saving it
    * exists to produce. Pure integer arithmetic; rank-only windows
    * (gate-SF global sort — range-partitioned at scale). */
  def lengthBatchingRollup(input: DataFrame, batchSize: Int): DataFrame = {
    val docs = input.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tok"))
    def rollup(order: Seq[Column], strategy: String) =
      docs.withColumn("batch",
          ((row_number().over(Window.orderBy(order: _*)) - 1) /
            lit(batchSize)).cast("long"))
        .groupBy(col("batch"))
        .agg(count(lit(1)).as("n_docs"), max(col("n_tok")).as("mx"),
          sum(col("n_tok")).as("tok"))
        .agg(count(lit(1)).as("n_batches"),
          sum(col("tok")).as("total_tokens"),
          sum(col("n_docs") * col("mx") - col("tok")).as("total_padding"))
        .withColumn("strategy", lit(strategy))
    rollup(Seq(col("n_tok"), col("doc_id")), "sorted")
      .unionByName(rollup(Seq(col("doc_id")), "arrival"))
      .select(col("strategy"), col("n_batches"), col("total_tokens"),
        col("total_padding"))
      .orderBy(col("strategy"))
  }

  private val e8LengthBatching: Q = (s, dir) =>
    lengthBatchingRollup(Tables.spread(t(s, dir, "documents")), batchSize = 32)

  /** E8: span-corruption plan (the T5 masking step, made
    * REPRODUCIBLE): token i of doc d STARTS a 3-token span iff the
    * [[splitBucket]]-style multiplicative hash of (d·1000 + i) lands
    * in 1/20 of its range — no RNG state, so any engine or rerun
    * regenerates the identical plan, and the expected budget is the
    * canonical ~15% of tokens (measured 0.1505 on this corpus). A
    * token masks iff a start sits within its 2 preceding positions
    * (windowed max — overlapping spans would merge); span count is
    * the gaps-and-islands pass over the mask column. One posexplode +
    * one doc-keyed window — linear, map-only at tokenization time at
    * 100 TB. */
  def spanMaskStats(input: DataFrame): DataFrame = {
    val toks = input
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
    val key = col("doc_id") * 1000L + col("pos")
    val h = pmod(pmod(key, lit(2147483648L)) * lit(2654435761L),
      lit(4294967296L))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val cover = w.rowsBetween(-2, 0)
    toks.withColumn("start0", (h % 20 === 0).cast("long"))
      .withColumn("m",
        when(max(col("start0")).over(cover) === 1L, 1L).otherwise(0L))
      .withColumn("island",
        when(col("m") === 1L &&
          coalesce(lag(col("m"), 1).over(w), lit(0L)) === 0L, 1L)
          .otherwise(0L))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        sum(col("start0")).as("n_starts"),
        sum(col("m")).as("n_masked"),
        sum(col("island")).as("n_spans"))
      .withColumn("mask_ratio",
        round(col("n_masked") / col("n_tok").cast("double"), 4))
      .orderBy(col("doc_id"))
  }

  private val e8SpanMask: Q = (s, dir) =>
    spanMaskStats(Tables.spread(t(s, dir, "documents")))

  val queries: Seq[Query] = Seq(
    // Same multiplicative hash (the e14b in-SQL spelling), same
    // 3-token cover window, same gaps-and-islands span count.
    Query("e8_span_mask", e8SpanMask,
      """WITH tok AS (
        |  SELECT doc_id, i - 1 AS pos
        |  FROM (SELECT doc_id, string_split(text, ' ') AS l
        |        FROM documents) d,
        |    unnest(range(1, len(d.l) + 1)) AS t(i)),
        |st AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN ((doc_id * 1000 + pos) % 2147483648)
        |              * 2654435761 % 4294967296 % 20 = 0
        |         THEN 1 ELSE 0 END AS start0
        |  FROM tok),
        |mk AS (
        |  SELECT doc_id, pos, start0,
        |    CASE WHEN max(start0) OVER (PARTITION BY doc_id ORDER BY pos
        |        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) = 1
        |      THEN 1 ELSE 0 END AS m
        |  FROM st),
        |sp AS (
        |  SELECT doc_id, start0, m,
        |    CASE WHEN m = 1 AND coalesce(lag(m) OVER (
        |        PARTITION BY doc_id ORDER BY pos), 0) = 0
        |      THEN 1 ELSE 0 END AS island
        |  FROM mk)
        |SELECT doc_id, count(*)::BIGINT AS n_tok,
        |  sum(start0)::BIGINT AS n_starts, sum(m)::BIGINT AS n_masked,
        |  sum(island)::BIGINT AS n_spans,
        |  round(sum(m)::DOUBLE / count(*), 4) AS mask_ratio
        |FROM sp GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // Same batch cut ((rn−1)//32), same per-batch waste formula.
    Query("e8_length_batching", e8LengthBatching,
      """WITH d AS (
        |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tok
        |  FROM documents),
        |s AS (
        |  SELECT n_tok,
        |    (row_number() OVER (ORDER BY n_tok, doc_id) - 1) // 32
        |      AS batch
        |  FROM d),
        |sb AS (
        |  SELECT batch, count(*) AS n_docs, max(n_tok) AS mx,
        |    sum(n_tok) AS tok
        |  FROM s GROUP BY batch),
        |sr AS (
        |  SELECT 'sorted' AS strategy, count(*)::BIGINT AS n_batches,
        |    sum(tok)::BIGINT AS total_tokens,
        |    sum(n_docs * mx - tok)::BIGINT AS total_padding
        |  FROM sb),
        |a AS (
        |  SELECT n_tok,
        |    (row_number() OVER (ORDER BY doc_id) - 1) // 32 AS batch
        |  FROM d),
        |ab AS (
        |  SELECT batch, count(*) AS n_docs, max(n_tok) AS mx,
        |    sum(n_tok) AS tok
        |  FROM a GROUP BY batch),
        |ar AS (
        |  SELECT 'arrival' AS strategy, count(*)::BIGINT AS n_batches,
        |    sum(tok)::BIGINT AS total_tokens,
        |    sum(n_docs * mx - tok)::BIGINT AS total_padding
        |  FROM ab)
        |SELECT * FROM ar UNION ALL SELECT * FROM sr
        |ORDER BY strategy""".stripMargin),
    // Same difficulty rounding, same ntile/row_number tie order.
    Query("e8_curriculum", e8Curriculum,
      """WITH d AS (
        |  SELECT doc_id,
        |    round(n_chars::DOUBLE
        |      / greatest(len(string_split(text, ' ')), 1), 4)
        |      AS difficulty
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, difficulty,
        |    ntile(4) OVER (ORDER BY difficulty, doc_id) AS bucket
        |  FROM d),
        |r AS (
        |  SELECT doc_id, difficulty, bucket,
        |    row_number() OVER (PARTITION BY bucket
        |      ORDER BY difficulty, doc_id) AS rn
        |  FROM b),
        |sched AS (
        |  SELECT row_number() OVER (ORDER BY rn, bucket, doc_id) AS pos,
        |    doc_id, bucket, rn, difficulty
        |  FROM r)
        |SELECT pos, doc_id, bucket, rn, difficulty
        |FROM sched WHERE pos <= 40 ORDER BY pos""".stripMargin),
    // Token counts, the α-temperature shares, targets, epochs, the
    // 4-epoch flag, and the R*-decay effective tokens all re-derived;
    // shares round per row before targets (rounding-parity).
    Query("e17_mixture_plan", e17MixturePlan, s"""WITH avail AS (
        |  SELECT source,
        |    sum(len(regexp_extract_all(text,
        |      '${TextStats.TokenRe}')))::BIGINT AS avail_tokens
        |  FROM documents GROUP BY source),
        |tot AS (SELECT sum(avail_tokens)::DOUBLE AS total FROM avail),
        |w AS (
        |  SELECT source, avail_tokens,
        |    pow(avail_tokens / total, 0.3) AS wgt, total
        |  FROM avail, tot),
        |wt AS (SELECT sum(wgt) AS w_tot FROM w),
        |sh AS (
        |  SELECT source, avail_tokens, total,
        |    round(wgt / w_tot, 6) AS share
        |  FROM w, wt),
        |tg AS (
        |  SELECT source, avail_tokens, share,
        |    round(8.0 * total * share, 0)::BIGINT AS target_tokens
        |  FROM sh),
        |ep AS (
        |  SELECT source, avail_tokens, share, target_tokens,
        |    round(target_tokens / avail_tokens::DOUBLE, 4) AS epochs
        |  FROM tg)
        |SELECT source, avail_tokens, share, target_tokens, epochs,
        |  epochs > 4.0 AS beyond_free_repetition,
        |  round(avail_tokens * 15.4 * (1.0 - exp(-epochs / 15.4)), 2)
        |    AS effective_tokens
        |FROM ep ORDER BY source""".stripMargin),
    // Pairs (exact all-pairs trigram Jaccard), the transitive closure,
    // the representative, the bucket arithmetic, and the leak count are
    // ALL re-derived — a lost pair, a split cluster, or a doc assigned
    // off its cluster's hash shifts a checksum and hash-fails.
    Query("e16_leak_split", e16LeakSplit,
      """WITH RECURSIVE sh AS MATERIALIZED (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(string_split(text,' ')) - 2, 0) + 1),
        |      i -> string_split(text,' ')[i] || ' ' ||
        |           string_split(text,' ')[i+1] || ' ' ||
        |           string_split(text,' ')[i+2])) AS s
        |  FROM documents),
        |pairs AS MATERIALIZED (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM sh a, sh b
        |  WHERE a.doc_id < b.doc_id
        |    AND len(a.s) > 0 AND len(b.s) > 0
        |    AND len(list_intersect(a.s, b.s))::DOUBLE
        |      / len(list_distinct(list_concat(a.s, b.s))) >= 0.75),
        |edges AS (
        |  SELECT a AS src, b AS dst FROM pairs
        |  UNION ALL SELECT b, a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |comp AS (
        |  SELECT src AS doc_id, min(dst) AS component
        |  FROM reach GROUP BY src),
        |rep AS (
        |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS rep
        |  FROM documents d LEFT JOIN comp c USING (doc_id)),
        |lab AS MATERIALIZED (
        |  SELECT doc_id, rep,
        |    CASE WHEN (((rep % 2147483648) * 2654435761) % 4294967296) / 4294967296.0
        |              < 0.8 THEN 'train'
        |         WHEN (((rep % 2147483648) * 2654435761) % 4294967296) / 4294967296.0
        |              < 0.9 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM rep),
        |leaks AS (
        |  SELECT count(*) AS leaked FROM pairs p
        |  JOIN lab la ON p.a = la.doc_id
        |  JOIN lab lb ON p.b = lb.doc_id
        |  WHERE la.split <> lb.split)
        |SELECT split, count(*)::BIGINT AS n_docs,
        |  count(DISTINCT rep)::BIGINT AS n_clusters,
        |  sum(doc_id)::BIGINT AS id_checksum,
        |  (SELECT leaked FROM leaks)::BIGINT AS leaked_pairs
        |FROM lab GROUP BY split ORDER BY split""".stripMargin),
    // LM + per-doc score + lang-partitioned terciles re-derived in
    // full; a wrong LM denominator, an unstable tercile boundary, or
    // cross-language score mixing all hash-fail.
    Query("e15_ccnet_buckets", e15CcnetBuckets,
      """WITH wds AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |freq AS (SELECT w, count(*) AS c FROM wds GROUP BY w),
        |tot AS (SELECT count(*) AS total FROM wds),
        |lm AS (SELECT w, -ln(c::DOUBLE / total) AS nll FROM freq, tot),
        |sc AS (
        |  SELECT doc_id, lang, round(avg(nll), 6) AS score
        |  FROM wds JOIN lm USING (w) GROUP BY doc_id, lang),
        |bk AS (
        |  SELECT lang, score, ntile(3) OVER (
        |    PARTITION BY lang ORDER BY score, doc_id) AS bucket
        |  FROM sc)
        |SELECT lang, bucket, count(*)::BIGINT AS n_docs,
        |  round(avg(score), 4) AS avg_score,
        |  min(score) AS min_score, max(score) AS max_score
        |FROM bk GROUP BY lang, bucket
        |ORDER BY lang, bucket""".stripMargin),
    // Same LM restatement as e14 over the md5-hex bucket key.
    Query("e14b_dsir_hashed", e14bDsirHashed,
      """WITH wds AS (
        |  SELECT doc_id, tgt,
        |    (('0x' || substr(md5(w0), 1, 6))::BIGINT % 10000) AS w
        |  FROM (
        |    SELECT doc_id, (lang = 'en') AS tgt,
        |      unnest(string_split(text, ' ')) AS w0
        |    FROM documents)),
        |raw AS (SELECT w, count(*) AS cr FROM wds GROUP BY w),
        |tgt AS (SELECT w, count(*) AS ct FROM wds WHERE tgt GROUP BY w),
        |tots AS (
        |  SELECT count(*) AS rTot,
        |    count(*) FILTER (WHERE tgt) AS tTot,
        |    count(DISTINCT w) AS v
        |  FROM wds),
        |lm AS (
        |  SELECT r.w, round((
        |    ln((coalesce(t.ct, 0) + 1)::DOUBLE / (tots.tTot + tots.v)) -
        |    ln((r.cr + 1)::DOUBLE / (tots.rTot + tots.v))) * 1e6)::BIGINT
        |    AS lw_e6
        |  FROM raw r LEFT JOIN tgt t ON r.w = t.w, tots)
        |SELECT w.doc_id, count(*)::BIGINT AS n_words,
        |  sum(l.lw_e6)::BIGINT AS score_e6
        |FROM wds w JOIN lm l USING (w)
        |GROUP BY w.doc_id
        |ORDER BY score_e6 DESC, doc_id LIMIT 200""".stripMargin),
    Query("e14_dsir", e14Dsir,
      """WITH wds AS (
        |  SELECT doc_id, (lang = 'en') AS tgt,
        |    unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |raw AS (SELECT w, count(*) AS cr FROM wds GROUP BY w),
        |tgt AS (SELECT w, count(*) AS ct FROM wds WHERE tgt GROUP BY w),
        |tots AS (
        |  SELECT count(*) AS rTot,
        |    count(*) FILTER (WHERE tgt) AS tTot,
        |    count(DISTINCT w) AS v
        |  FROM wds),
        |lm AS (
        |  SELECT r.w, round((
        |    ln((coalesce(t.ct, 0) + 1)::DOUBLE / (tots.tTot + tots.v)) -
        |    ln((r.cr + 1)::DOUBLE / (tots.rTot + tots.v))) * 1e6)::BIGINT
        |    AS lw_e6
        |  FROM raw r LEFT JOIN tgt t ON r.w = t.w, tots)
        |SELECT w.doc_id, count(*)::BIGINT AS n_words,
        |  sum(l.lw_e6)::BIGINT AS score_e6
        |FROM wds w JOIN lm l USING (w)
        |GROUP BY w.doc_id
        |ORDER BY score_e6 DESC, doc_id LIMIT 200""".stripMargin),
    Query("e8_domain_cap", e8DomainCap,
      """WITH rk AS (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS r
        |  FROM documents),
        |kept AS (
        |  SELECT source, count(*)::BIGINT AS n_kept,
        |    sum(doc_id)::BIGINT AS sum_kept_ids
        |  FROM rk WHERE r <= 3 GROUP BY source),
        |tot AS (
        |  SELECT source, count(*)::BIGINT AS n_total
        |  FROM documents GROUP BY source)
        |SELECT t.source, t.n_total, k.n_kept,
        |  (t.n_total - k.n_kept)::BIGINT AS n_dropped, k.sum_kept_ids
        |FROM tot t JOIN kept k USING (source)
        |ORDER BY source""".stripMargin),
    Query("e8_shuffle", e8Shuffle,
      """WITH h AS (
        |  SELECT doc_id,
        |    ((doc_id % 2147483648) * 2654435761) % 4294967296 AS hv
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, hv, (hv % 16)::INT AS shard,
        |    row_number() OVER (PARTITION BY hv % 16 ORDER BY hv, doc_id)
        |      AS pos
        |  FROM h)
        |SELECT shard, count(*)::BIGINT AS n_docs,
        |  sum(pos * doc_id)::BIGINT AS order_digest,
        |  min(CASE WHEN pos = 1 THEN doc_id END)::BIGINT AS first_doc,
        |  max(doc_id)::BIGINT AS max_doc
        |FROM s GROUP BY shard ORDER BY shard""".stripMargin),
    Query("e8_weighted", e8Weighted,
      """WITH b AS (
        |  SELECT doc_id, source,
        |    ((((doc_id % 2147483648) * 2654435761) % 4294967296) + 0.5)
        |      / 4294967296.0 AS u,
        |    CASE WHEN substr(source, 4)::INT < 5 THEN 4.0 ELSE 1.0 END AS w
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, source FROM b
        |  ORDER BY round(pow(u, 1.0 / w), 12) DESC, doc_id LIMIT 200)
        |SELECT source, count(*)::BIGINT AS n_sampled,
        |  sum(doc_id)::BIGINT AS sum_ids
        |FROM k GROUP BY source ORDER BY source""".stripMargin),
    Query("e8_upsample", e8Upsample,
      """WITH c AS (
        |  SELECT source, count(*) AS n_s,
        |    CASE WHEN substr(source, 4)::INT < 5 THEN 4.0 ELSE 1.0 END AS w
        |  FROM documents GROUP BY source),
        |t AS (SELECT sum(w) AS w_tot, sum(n_s) AS total FROM c),
        |r AS (
        |  SELECT source, (w / w_tot) * total / n_s AS rate FROM c, t),
        |x AS (
        |  SELECT d.source, d.doc_id,
        |    floor(r.rate)::BIGINT +
        |    (CASE WHEN (((doc_id % 2147483648) * 2654435761) % 4294967296) / 4294967296.0
        |               < r.rate - floor(r.rate)
        |          THEN 1 ELSE 0 END) AS copies
        |  FROM documents d JOIN r USING (source))
        |SELECT source, sum(copies)::BIGINT AS n_out,
        |  sum(CASE WHEN copies > 0 THEN 1 ELSE 0 END)::BIGINT AS n_docs_kept,
        |  sum(doc_id * copies)::BIGINT AS sum_weighted_ids
        |FROM x GROUP BY source ORDER BY source""".stripMargin),
    Query("e8_hash_split", e8HashSplit,
      """WITH b AS (
        |  SELECT doc_id,
        |    (((doc_id % 2147483648) * 2654435761) % 4294967296) / 4294967296.0 AS u
        |  FROM documents)
        |SELECT CASE WHEN u < 0.8 THEN 'train'
        |            WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split,
        |  count(*)::BIGINT AS n_docs, sum(doc_id)::BIGINT AS sum_ids
        |FROM b GROUP BY 1 ORDER BY split""".stripMargin),
    Query("e8_pack", e8Pack,
      """WITH s AS (
        |  SELECT lang, doc_id,
        |    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
        |      AS toks
        |  FROM documents),
        |c AS (
        |  SELECT lang, doc_id, toks,
        |    sum(toks) OVER (PARTITION BY lang ORDER BY doc_id
        |                    ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM s)
        |SELECT lang, ((cum - toks) // 2048)::BIGINT AS bin,
        |  count(*)::BIGINT AS n_docs, sum(toks)::BIGINT AS bin_tokens
        |FROM c GROUP BY lang, bin ORDER BY lang, bin""".stripMargin),
    Query("e8_priority_sample", e8PrioritySample,
      """WITH w AS (
        |  SELECT lang, doc_id,
        |    least(n_chars, 1048576)::BIGINT AS w,
        |    ((((doc_id % 2147483648) * 2654435761) % 4294967296) + 1)::BIGINT AS u
        |  FROM documents),
        |r AS (
        |  SELECT lang, doc_id, w, u,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY (w * 4294967296)::DOUBLE / u::DOUBLE DESC, doc_id) AS rn
        |  FROM w),
        |tau AS (
        |  SELECT lang,
        |    ((w::HUGEINT * 4294967296 * 1000000) // u::HUGEINT)::BIGINT AS tau_micro
        |  FROM r WHERE rn = 33)
        |SELECT r.lang, r.rn, r.doc_id,
        |  (r.w * 1000000)::BIGINT AS w_micro,
        |  greatest(r.w * 1000000, coalesce(t.tau_micro, 0))::BIGINT AS est_micro
        |FROM r LEFT JOIN tau t ON r.lang = t.lang
        |WHERE r.rn <= 32
        |ORDER BY r.lang, r.rn""".stripMargin),
    Query("e8_stratified", e8Stratified,
      """WITH b AS (
        |  SELECT lang, doc_id,
        |    (((doc_id % 2147483648) * 2654435761) % 4294967296) / 4294967296.0 AS u
        |  FROM documents),
        |r AS (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang ORDER BY u, doc_id) AS rk,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM b)
        |SELECT lang, count(*)::BIGINT AS n_kept,
        |  sum(doc_id)::BIGINT AS sum_ids
        |FROM r WHERE rk <= ceil(n * 0.2)
        |GROUP BY lang ORDER BY lang""".stripMargin),
    Query("e8_mixture", e8Mixture,
      """WITH c AS (
        |  SELECT source, count(*) AS n_s,
        |    CASE WHEN substr(source, 4)::INT < 5 THEN 2.0 ELSE 1.0 END AS w
        |  FROM documents GROUP BY source),
        |t AS (SELECT sum(w) AS w_tot FROM c),
        |m AS (SELECT min(n_s / (w / w_tot)) AS n_out FROM c, t),
        |r AS (
        |  SELECT source, n_s,
        |    least(1.0, (w / w_tot) * n_out / n_s) AS rate
        |  FROM c, t, m),
        |k AS (
        |  SELECT d.source, d.doc_id
        |  FROM documents d JOIN r USING (source)
        |  WHERE (((doc_id % 2147483648) * 2654435761) % 4294967296) / 4294967296.0 < rate)
        |SELECT r.source, r.n_s::BIGINT AS n_in, round(r.rate, 6) AS rate,
        |  coalesce(k2.n_kept, 0) AS n_kept,
        |  coalesce(k2.sum_kept_ids, 0) AS sum_kept_ids
        |FROM r LEFT JOIN (
        |  SELECT source, count(*)::BIGINT AS n_kept,
        |    sum(doc_id)::BIGINT AS sum_kept_ids
        |  FROM k GROUP BY source) k2 USING (source)
        |ORDER BY source""".stripMargin),
    Query("e8_chunk", e8Chunk,
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |c AS (
        |  SELECT doc_id, ws,
        |    CASE WHEN len(ws) <= 32 THEN 1
        |         ELSE (ceil((len(ws) - 32)::DOUBLE / 24))::BIGINT + 1
        |    END AS nc
        |  FROM w),
        |e AS (
        |  SELECT doc_id, unnest(range(0, nc)) AS chunk_id, ws FROM c),
        |s AS (
        |  SELECT doc_id, chunk_id,
        |    list_slice(ws, (chunk_id*24 + 1)::INT,
        |               least((chunk_id*24 + 32)::INT, len(ws))) AS cw
        |  FROM e)
        |SELECT doc_id, chunk_id, len(cw)::BIGINT AS n_words,
        |  cw[1] AS first_word, cw[len(cw)] AS last_word
        |FROM s ORDER BY doc_id, chunk_id""".stripMargin),
    Query("e8_contamination", e8Contamination,
      """WITH sh0 AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(string_split(text,' ')) - 2, 0) + 1),
        |    i -> string_split(text,' ')[i] || ' ' ||
        |         string_split(text,' ')[i+1] || ' ' ||
        |         string_split(text,' ')[i+2]))) AS tok
        |  FROM documents),
        |dfc AS (SELECT tok, count(*) AS df FROM sh0 GROUP BY tok),
        |rare AS (
        |  SELECT doc_id, tok FROM sh0 JOIN dfc USING (tok) WHERE df <= 100),
        |test AS (
        |  SELECT doc_id AS test_id, tok FROM rare WHERE doc_id % 50 = 0),
        |train AS (
        |  SELECT doc_id AS train_id, tok FROM rare WHERE doc_id % 50 <> 0),
        |sz AS (SELECT test_id, count(*) AS n_rare FROM test GROUP BY test_id),
        |shared AS (
        |  SELECT test_id, train_id, count(*) AS shared
        |  FROM test JOIN train USING (tok) GROUP BY test_id, train_id),
        |per AS (
        |  SELECT s.test_id, s.shared::DOUBLE / z.n_rare AS containment
        |  FROM shared s JOIN sz z USING (test_id)),
        |agg AS (
        |  SELECT test_id, round(max(containment), 4) AS max_containment,
        |    sum(CASE WHEN containment >= 0.5 THEN 1 ELSE 0 END)::BIGINT
        |      AS n_contaminating
        |  FROM per GROUP BY test_id)
        |SELECT d.doc_id AS test_id,
        |  coalesce(a.max_containment, 0.0) AS max_containment,
        |  coalesce(a.n_contaminating, 0) AS n_contaminating
        |FROM documents d LEFT JOIN agg a ON d.doc_id = a.test_id
        |WHERE d.doc_id % 50 = 0 ORDER BY test_id""".stripMargin),
  )
}
