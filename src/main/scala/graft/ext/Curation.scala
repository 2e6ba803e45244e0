package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** E7: end-to-end training-data curation — the composition the other
  * EXT operators exist for (EXT, SURVEY §2.12; no reference analog —
  * the reference stops at relational ETL):
  *
  *   raw corpus → exact dedup (keep lowest id per identical text)
  *             → near-dup removal (MinHash-LSH pairs at J ≥ 0.8;
  *               greedy one-hop: drop the higher id of each pair)
  *             → quality filter (composite score ≥ 2/3)
  *             → per-language corpus stats
  *
  * Every stage is the scale-safe path: the dedup shuffle key is a
  * sha2 digest, near-dup candidates come from banded LSH (never
  * all-pairs), quality scoring is map-only. The DuckDB oracle
  * recomputes the whole pipeline with EXACT all-pairs Jaccard for the
  * near-dup stage, so the gate proves LSH recall end to end through
  * the composition, not just per-operator.
  */
object Curation {

  /** Documents plus planted duplicates (lang carried through so the
    * final per-language rollup sees them): an exact copy of every 10th
    * doc and a one-word-appended mutation of every 20th. */
  private[ext] def withPlantedLang(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"), col("lang"))
      .unionByName(docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"),
          col("lang")))
      .unionByName(docs.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" zzduplicate")).as("text"), col("lang")))

  /** The curation pipeline over a (doc_id, text, lang) frame.
    *
    * Stage-2 near-dup mode is a knob:
    *   - `exactNearDup = false` (default): banded MinHash-LSH (k=64,
    *     16 bands × 4 rows) + exact-Jaccard refinement. The scale
    *     choice — candidate volume is banding-bounded, never all-pairs
    *     — but probabilistically complete: a true pair at J just above
    *     the 0.8 threshold is missed with p = (1−J⁴)¹⁶ ≈ 2·10⁻⁴, so a
    *     borderline natural pair at a new scale factor could flip the
    *     oracle gate red with correct code.
    *   - `exactNearDup = true`: prefix-filtered exact n-gram Jaccard
    *     join (PPJoin-style, still equi-join blocked — no all-pairs).
    *     Guarantee-exact: the result matches the all-pairs oracle by
    *     construction, at the cost of building the global token-
    *     frequency order (two extra shuffles over the shingle tokens).
    * Both modes are oracle-gated (e7_curation / e7_curation_exact). */
  def curate(docs: DataFrame, neardupThreshold: Double = 0.8,
      minQuality: Double = 0.6, exactNearDup: Boolean = false): DataFrame = {
    // Stage 1: exact dedup — keep the lowest id per identical text.
    // Materialized once: three subtrees consume it (near-dup signature
    // build, the anti-join, the quality/rollup lineage) and the sha2
    // window over full text must not rerun per consumer.
    val exactKept = Dedup.exactDedup(docs, "text", "doc_id").localCheckpoint(eager = false)
    // Stage 2: near-dup removal among exact-dedup survivors. Banded
    // MinHash-LSH candidates, exact-Jaccard refinement; greedy one-hop
    // drop of the higher id (no transitive closure — each doc is
    // removed only for a DIRECT J ≥ t partner with a lower id).
    val nearPairs =
      if (exactNearDup)
        Dedup.ngramJaccardPairs(exactKept, "doc_id", "text",
          shingleN = 3, threshold = neardupThreshold)
      else
        Dedup.minhashNearDupPairs(exactKept, "doc_id", "text",
          shingleN = 3, k = 64, bands = 16, threshold = neardupThreshold)
    val nearKept = exactKept.join(nearPairs.select(col("b").as("doc_id")),
      Seq("doc_id"), "left_anti")
    // Stage 3: map-only quality filter.
    val kept = nearKept
      .withColumn("q", TextStats.qualityScore(col("text")))
      .filter(col("q") >= minQuality)
    // Stage 4: per-language rollup of what survived.
    docs.groupBy(col("lang")).agg(count(lit(1)).as("n_in"))
      .join(
        kept.groupBy(col("lang")).agg(
          count(lit(1)).as("n_kept"),
          round(avg(col("q")), 4).as("avg_quality"),
          sum(TextStats.bpeishTokenCount(col("text"))).as("total_tokens")),
        Seq("lang"), "left")
      .orderBy(col("lang"))
  }

  private val e7Curation: Q = (s, dir) =>
    curate(Tables.spread(withPlantedLang(Tables.load(s, dir, "documents"))))

  private val e7CurationExact: Q = (s, dir) =>
    curate(Tables.spread(withPlantedLang(Tables.load(s, dir, "documents"))),
      exactNearDup = true)

  /** E11: dataset card — the one-page corpus profile a data team
    * publishes with a training set: sizes, language/source fanout,
    * token totals, quality and length stats, embedding norms, event
    * volume. Three independent global aggregates (one per table)
    * UNIONed as (metric, value) rows — no crossJoin, no shuffle beyond
    * the partial-agg trees; each table is scanned exactly once. */
  private val e11DatasetCard: Q = (s, dir) => {
    def kv(m: String, v: org.apache.spark.sql.Column) =
      struct(lit(m).as("metric"), v.cast("double").as("value"))
    val docs = Tables.spread(Tables.load(s, dir, "documents")).agg(
      kv("docs.n", count(lit(1))).as("a"),
      kv("docs.n_langs", countDistinct(col("lang"))).as("b"),
      kv("docs.n_sources", countDistinct(col("source"))).as("c"),
      kv("docs.total_tokens",
        sum(TextStats.bpeishTokenCount(col("text")))).as("d"),
      kv("docs.avg_quality",
        round(avg(TextStats.qualityScore(col("text"))), 4)).as("e"),
      kv("docs.pct_short",
        round(avg(when(col("n_chars") < 100, 1.0).otherwise(0.0)), 4)).as("f"))
    val vecs = Tables.load(s, dir, "embeddings").agg(
      kv("vecs.n", count(lit(1))).as("a"),
      kv("vecs.n_labels", countDistinct(col("label"))).as("b"),
      kv("vecs.avg_norm_sq", {
        // VecDot is double-typed — cast the float embedding first
        val v = transform(col("embedding"), _.cast("double"))
        round(avg(graft.functions.VecDot.vecDot(v, v)), 4)
      }).as("c"))
    val evs = Tables.load(s, dir, "events").agg(
      kv("events.n", count(lit(1))).as("a"),
      kv("events.n_users", countDistinct(col("user_id"))).as("b"),
      kv("events.n_types", countDistinct(col("event_type"))).as("c"))
    def rows(df: DataFrame) = df.select(explode(array(
      df.columns.map(col): _*)).as("r"))
      .select(col("r.metric"), col("r.value"))
    rows(docs).unionByName(rows(vecs)).unionByName(rows(evs))
      .orderBy(col("metric"))
  }

  val queries: Map[String, Q] = Map(
    "e7_curation" -> e7Curation,
    "e7_curation_exact" -> e7CurationExact,
    "e11_dataset_card" -> e11DatasetCard,
  )

  /** The oracle recomputes the pipeline with EXACT all-pairs Jaccard
    * for stage 2 — shingles mirror Dedup.shingles (3-word, distinct,
    * <3-word docs give the empty set). Both modes share it: the LSH
    * gate proves recall end to end, the exact gate matches by
    * construction. */
  private val curationOracle: String =
      """WITH all_docs AS (
        |  SELECT doc_id, text, lang FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text, lang FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000, text || ' zzduplicate', lang FROM documents
        |  WHERE doc_id % 20 = 0),
        |exact_kept AS (
        |  SELECT min(doc_id) AS doc_id, text,
        |         arg_min(lang, doc_id) AS lang
        |  FROM all_docs GROUP BY text),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(string_split(text,' ')) - 2, 0) + 1),
        |      i -> string_split(text,' ')[i] || ' ' ||
        |           string_split(text,' ')[i+1] || ' ' ||
        |           string_split(text,' ')[i+2])) AS s
        |  FROM exact_kept),
        |near_b AS (
        |  SELECT DISTINCT b.doc_id AS doc_id
        |  FROM sh a, sh b
        |  WHERE a.doc_id < b.doc_id
        |    AND len(list_intersect(a.s, b.s))::DOUBLE
        |      / len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
        |scored AS (
        |  SELECT k.lang,
        |    round(((CASE WHEN len(text) BETWEEN 50 AND 10000 THEN 1.0 ELSE 0.0 END)
        |     + (CASE WHEN len(text)::DOUBLE / greatest(len(string_split(text,' ')), 1)
        |             BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
        |     + (CASE WHEN len(list_filter(string_split(text,' '),
        |              w -> w IN ('the','a','of','and','to')))::DOUBLE
        |              / greatest(len(string_split(text,' ')), 1) <= 0.6
        |         THEN 1.0 ELSE 0.0 END)) / 3.0, 4) AS q,
        |    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
        |      AS toks
        |  FROM exact_kept k
        |  WHERE k.doc_id NOT IN (SELECT doc_id FROM near_b)),
        |kept AS (SELECT * FROM scored WHERE q >= 0.6)
        |SELECT i.lang, i.n_in, k.n_kept, k.avg_quality, k.total_tokens
        |FROM (SELECT lang, count(*) AS n_in FROM all_docs GROUP BY lang) i
        |LEFT JOIN (
        |  SELECT lang, count(*) AS n_kept, round(avg(q), 4) AS avg_quality,
        |         sum(toks)::BIGINT AS total_tokens
        |  FROM kept GROUP BY lang) k USING (lang)
        |ORDER BY lang""".stripMargin

  val oracles: Map[String, String] = Map(
    "e7_curation" -> curationOracle,
    "e7_curation_exact" -> curationOracle,
    "e11_dataset_card" ->
      """SELECT * FROM (
        |  SELECT 'docs.n' AS metric, count(*)::DOUBLE AS value FROM documents
        |  UNION ALL SELECT 'docs.n_langs', count(DISTINCT lang)::DOUBLE
        |    FROM documents
        |  UNION ALL SELECT 'docs.n_sources', count(DISTINCT source)::DOUBLE
        |    FROM documents
        |  UNION ALL SELECT 'docs.total_tokens',
        |    sum(len(regexp_extract_all(text,
        |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')))::DOUBLE FROM documents
        |  UNION ALL SELECT 'docs.avg_quality', round(avg(round(
        |    ((CASE WHEN len(text) BETWEEN 50 AND 10000 THEN 1.0 ELSE 0.0 END)
        |     + (CASE WHEN len(text)::DOUBLE
        |             / greatest(len(string_split(text,' ')), 1)
        |             BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
        |     + (CASE WHEN len(list_filter(string_split(text,' '),
        |              w -> w IN ('the','a','of','and','to')))::DOUBLE
        |              / greatest(len(string_split(text,' ')), 1) <= 0.6
        |         THEN 1.0 ELSE 0.0 END)) / 3.0, 4)), 4) FROM documents
        |  UNION ALL SELECT 'docs.pct_short', round(avg(
        |    CASE WHEN n_chars < 100 THEN 1.0 ELSE 0.0 END), 4) FROM documents
        |  UNION ALL SELECT 'vecs.n', count(*)::DOUBLE FROM embeddings
        |  UNION ALL SELECT 'vecs.n_labels', count(DISTINCT label)::DOUBLE
        |    FROM embeddings
        |  UNION ALL SELECT 'vecs.avg_norm_sq', round(avg(
        |    list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 4)
        |    FROM embeddings
        |  UNION ALL SELECT 'events.n', count(*)::DOUBLE FROM events
        |  UNION ALL SELECT 'events.n_users', count(DISTINCT user_id)::DOUBLE
        |    FROM events
        |  UNION ALL SELECT 'events.n_types', count(DISTINCT event_type)::DOUBLE
        |    FROM events
        |) ORDER BY metric""".stripMargin,
  )
}
