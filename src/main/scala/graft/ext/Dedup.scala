package graft.ext

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}
import graft.{Q, Query, Tables}
import graft.Tables.{load => t}
import graft.functions.SimHash64.simhash64

/** Deduplication for training-data pipelines — exact, MinHash-LSH, and
  * SimHash near-dup. Not in the reference (EXT, SURVEY §2.12); designed
  * scale-first:
  *
  *  - exact dedup shuffles a 32-byte digest, never the document text;
  *  - near-dup candidate generation is banded LSH — a groupBy/equi-join
  *    on band keys. Nothing ever compares all pairs; the quadratic step
  *    is confined to within-bucket candidates, which banding keeps tiny;
  *  - fingerprints (minhash/simhash) are map-only single passes.
  */
object Dedup {

  // ------------------------------------------------------------ operators

  /** E1: exact dedup — keep one row per identical `dedupCol` value (the
    * lowest `tieBreak`). Partitions by a sha2-256 digest so the shuffle
    * key is fixed-width regardless of document size. */
  def exactDedup(df: DataFrame, dedupCol: String, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(sha2(col(dedupCol), 256))
      .orderBy(col(tieBreak))
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** Word n-gram shingles of a text column (distinct set). Documents
    * shorter than `n` words yield NO shingles — the DuckDB oracle's
    * NULL-propagating `||` concatenation would diverge from a truncated
    * shingle, so both engines pin the same empty-set semantics. NULL
    * text propagates to NULL (`size(null)` is -1, which would otherwise
    * fall into the empty-array branch while DuckDB's string_split
    * pipeline returns NULL). */
  def shingles(textCol: Column, n: Int): Column = {
    val words = split(textCol, " ")
    when(textCol.isNull, lit(null).cast("array<string>"))
      .when(size(words) >= n,
        array_distinct(
          transform(
            sequence(lit(1), size(words) - (n - 1)),
            i => concat_ws(" ", slice(words, i, lit(n))))))
      .otherwise(lit(Array.empty[String]))
  }

  /** MinHash signature: k permutations approximated by Carter-Wegman
    * combinations of two base hashes — a single codegen'd pass over the
    * shingle set (native expression; the higher-order-function version
    * costs k interpreted passes and a k-branch plan tree). */
  def minhashSignature(shingleSet: Column, k: Int): Column =
    graft.functions.MinHashSig.minhashSig(shingleSet, k)

  /** LSH band keys over a minhash signature: `bands` buckets of
    * `rowsPerBand` slots, each hashed to one join key. Two documents
    * collide on a band with probability jaccard^rowsPerBand. */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(slice(sig, b * rowsPerBand + 1, rowsPerBand)).as("bh"))
    }: _*)

  /** E2: MinHash-LSH near-duplicate pairs with exact-Jaccard refinement.
    * Candidates come from an equi-join on band keys (shuffle by band
    * hash — never all-pairs); only candidates pay the exact set
    * comparison. Returns (a, b, jaccard) with a < b. The shingle-set
    * frame is checkpointed once (at cluster scale: a signature table)
    * instead of recomputing text→shingles on every consumer. */
  def minhashNearDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 32, bands: Int = 8,
      threshold: Double = 0.8): DataFrame = {
    val sets = Tables.spread(df.select(col(idCol), col(textCol)))
      .select(
        col(idCol).as("id"),
        shingles(col(textCol), shingleN).as("sh"))
      .localCheckpoint(eager = false)
    minhashNearDupPairsAgainst(sets, sets, k, bands, threshold)
  }

  /** Asymmetric banded MinHash join: candidates pair `base` × `probe`
    * band keys with `a.id < b.id` — never base×base. This is the
    * incremental shape: at cluster scale `base` bands come from the
    * persisted signature table of the existing corpus and only the new
    * batch computes signatures fresh, so each ingest pays O(|batch|)
    * signature work plus a banding-bounded candidate join, not a
    * recluster of the corpus. `base`/`probe` are (id, sh) set frames;
    * returns (a, b, jaccard) with b ∈ probe, jaccard ≥ threshold.
    * Passing the SAME frame as `base` and `probe` is the symmetric
    * self-join: its band table is built once and feeds both sides of
    * the band join. A materialized
    * frame (checkpoint / persisted signature table) keeps the set
    * build from running once per consumer. */
  def minhashNearDupPairsAgainst(base: DataFrame, probe: DataFrame,
      k: Int, bands: Int, threshold: Double): DataFrame = {
    def bandsOf(sets: DataFrame) =
      bandTable(sets, minhashSignature(col("sh"), k), k, bands)
    val baseBands = bandsOf(base)
    val probeBands = if (probe eq base) baseBands else bandsOf(probe)
    bandJoin(baseBands, base, probeBands, probe, threshold)
  }

  /** (id, bk) band table: one row per set and band of signature `sig`
    * — narrow, so the band join's explode carries no payload. `sig` is
    * projected into a column first: every band slices it, and an
    * inline signature expression would run once per band. */
  private def bandTable(sets: DataFrame, sig: Column, k: Int,
      bands: Int): DataFrame =
    sets.select(col("id"), sig.as("_sig"))
      .select(col("id"),
        explode(bandKeys(col("_sig"), bands, k / bands)).as("bk"))

  /** The MinHash-LSH band join every MinHash pair generator runs:
    * (id, bk) band tables equi-joined on band key with `a.id < b.id`,
    * deduplicated, then refined against the matching (id, sh) sets. */
  private def bandJoin(baseBands: DataFrame, baseSets: DataFrame,
      probeBands: DataFrame, probeSets: DataFrame,
      threshold: Double): DataFrame = {
    val candidates = baseBands.as("a")
      .join(probeBands.as("b"),
        col("a.bk") === col("b.bk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("a"), col("b.id").as("b"))
      .distinct()
    jaccardRefine(candidates, baseSets, probeSets, threshold)
  }

  /** Exact-Jaccard refinement shared by the MinHash and n-gram pair
    * generators: candidate (a, b) pairs joined to their shingle sets
    * (`a` from `baseSets`, `b` from `probeSets`), kept at
    * J ≥ threshold. Returns (a, b, jaccard). */
  private def jaccardRefine(candidates: DataFrame, baseSets: DataFrame,
      probeSets: DataFrame, threshold: Double): DataFrame =
    candidates
      .join(baseSets.as("sa"), col("a") === col("sa.id"))
      .join(probeSets.as("sb"), col("b") === col("sb.id"))
      .withColumn("jaccard",
        graft.functions.JaccardSim.jaccardSim(col("sa.sh"), col("sb.sh")))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))

  /** E2e: incremental dedup — admit a fresh batch against an immutable
    * existing corpus. A fresh row is dropped iff it exactly duplicates
    * an old text or a lower-id fresh text (sha2 digest, never raw
    * text), or is a near-dup (J ≥ threshold) of any old doc or any
    * surviving lower-id fresh doc. The old corpus never changes and is
    * never self-compared — old↔old pairs are excluded structurally by
    * the asymmetric band join. REQUIRES every fresh id > every old id
    * (ingest batches get monotone id ranges), which is what makes
    * "drop the fresh side" expressible as `drop b`. Admission is
    * [[lshAdmitAgainstSignatures]] over an in-memory
    * [[lshSignatureTable]] of `old`. Returns the surviving fresh rows
    * with all their columns. */
  def incrementalDedup(old: DataFrame, fresh: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 3,
      k: Int = 64, bands: Int = 16, threshold: Double = 0.8,
      checkIdContract: Boolean = true): DataFrame = {
    if (checkIdContract) {
      // The REQUIRES above is now enforced, not just documented: one
      // tiny job (ids only — column-pruned scans, two scalar aggs,
      // one row to the driver) before any heavy work. Violating the
      // contract would silently mis-orient the asymmetric band join.
      // The comparison runs IN-PLAN (mn > mx), so it uses Spark's own
      // ordering for whatever orderable id type the caller has —
      // numeric, string, timestamp — instead of assuming numbers.
      val row = old.agg(max(col(idCol)).as("mx"))
        .crossJoin(fresh.agg(min(col(idCol)).as("mn")))
        .select(col("mx"), col("mn"), (col("mn") > col("mx")).as("ok"))
        .head()
      if (!row.isNullAt(0) && !row.isNullAt(1)) {
        require(row.getBoolean(2),
          s"incrementalDedup: fresh ids must all exceed old ids " +
            s"(min fresh=${row.get(1)} ≤ max old=${row.get(0)}) — " +
            "ingest batches get monotone id ranges; disable via " +
            "checkIdContract=false")
      }
    }
    lshAdmitAgainstSignatures(
      lshSignatureTable(old, idCol, textCol, shingleN, k),
      fresh, idCol, textCol, shingleN, k, bands, threshold)
  }

  /** Bloom-prefiltered exact-digest admission — the ingest-side
    * complement of [[incrementalDedup]]'s exact stage. A Bloom filter
    * over the corpus digest set (one distributed pass,
    * `df.stat.bloomFilter`) rides the batch scan as a reference object
    * ([[graft.functions.BloomMightContain]]): rows whose digest the
    * bloom has NEVER seen are admitted directly (no false negatives ⇒
    * exact), and only bloom-POSITIVE rows — true duplicates plus an
    * fpp fraction of the batch — pay the exact anti-join against the
    * corpus digest table. The result is row-for-row EQUAL to the plain
    * anti-join; what changes is the shuffle: |dups| + fpp·|batch| rows
    * instead of |batch|, which at a 100 TB corpus with a
    * mostly-novel ingest stream is the difference between shuffling
    * the batch and shuffling (almost) nothing. Sizing: ~1.2 GB of bits
    * per 10⁹ corpus digests at fpp = 10⁻², linear in ln(1/fpp) —
    * beyond broadcast comfort, build one bloom per digest bucket and
    * probe the matching bucket's filter. Returns the admitted batch
    * rows with all their columns. */
  def bloomIngestFilter(corpus: DataFrame, batch: DataFrame,
      textCol: String, expectedItems: Long,
      fpp: Double = 0.01): DataFrame = {
    val corpusDigests = corpus
      .select(sha2(col(textCol), 256).as("_digest")).distinct()
    val bloom = corpusDigests.stat.bloomFilter("_digest", expectedItems, fpp)
    val digested = batch
      .withColumn("_digest", sha2(col(textCol), 256))
      .localCheckpoint(eager = false) // one digest pass, two consumers
    val mightMatch = graft.functions.BloomMightContain
      .bloomMightContain(col("_digest"), bloom)
    val directAdmits = digested.filter(!mightMatch)
    val checked = digested.filter(mightMatch)
      .join(corpusDigests, Seq("_digest"), "left_anti")
    directAdmits.unionByName(checked).drop("_digest")
  }

  // ------------------- persisted LSH signature table (+ deletes)

  /** The persisted MinHash state of a frozen corpus — per doc its
    * exact sha256 digest, shingle set, and k-hash signature — laid out
    * in `nCells` id-hash cells. This is the table every 100 TB dedup
    * ingest reads INSTEAD of re-shingling the corpus: admission joins
    * band keys derived from the STORED signatures, and the id-hash
    * `cell` partition column is what lets the tombstone primitives
    * ([[graft.ext.Similarity.ivfDelete]] / `ivfReadIndex` /
    * `ivfCompact`, which are layout-generic over (idCol, cell))
    * compose unchanged: a forget request against near-dup state is an
    * O(ids) sidecar append, merge-on-read hides it, compaction
    * rewrites only the hit cells. */
  def lshSignatureTable(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, k: Int, nCells: Int = 8): DataFrame =
    docs.select(col(idCol).as("id"),
        sha2(col(textCol), 256).as("digest"),
        shingles(col(textCol), shingleN).as("sh"))
      .withColumn("sig", minhashSignature(col("sh"), k))
      .withColumn("cell",
        pmod(xxhash64(col("id")), lit(nCells)).cast("int"))

  /** Persist [[lshSignatureTable]] cell-partitioned at `path`. */
  def lshWriteSignatures(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, k: Int, path: String, nCells: Int = 8): Unit =
    lshSignatureTable(docs, idCol, textCol, shingleN, k, nCells)
      .write.mode("overwrite").partitionBy("cell").parquet(path)

  /** [[incrementalDedup]]'s admission against a signature TABLE
    * instead of raw corpus text: the base side's band keys come from
    * the stored `sig` (no corpus re-minhash), refinement reads the
    * stored shingle sets, and the exact stage anti-joins the stored
    * digests. Same REQUIRES — fresh ids all exceed table ids. `table`
    * is whatever scan the caller wants: the plain parquet read, the
    * merge-on-read view with tombstones applied, or an in-memory
    * [[lshSignatureTable]] (what [[incrementalDedup]] passes; one spec
    * pins persisted and in-memory admission equal row for row). */
  def lshAdmitAgainstSignatures(table: DataFrame, fresh: DataFrame,
      idCol: String, textCol: String, shingleN: Int, k: Int, bands: Int,
      threshold: Double): DataFrame = {
    val oldDigests = table.select(col("digest").as("_digest")).distinct()
    // Materialized once: three consumers (set build, band join's
    // refinement side, final anti-join) must not re-run the digest
    // window over full text.
    val exactKept = exactDedup(fresh, textCol, idCol)
      .withColumn("_digest", sha2(col(textCol), 256))
      .join(oldDigests, Seq("_digest"), "left_anti")
      .drop("_digest")
      .localCheckpoint(eager = false)
    val freshSets = exactKept.select(col(idCol).as("id"),
        shingles(col(textCol), shingleN).as("sh"))
      .localCheckpoint(eager = false)
    val freshBands =
      bandTable(freshSets, minhashSignature(col("sh"), k), k, bands)
    val baseBands = bandTable(table, col("sig"), k, bands)
      .unionByName(freshBands)
    val baseSets = table.select(col("id"), col("sh"))
      .unionByName(freshSets)
    val dropIds = bandJoin(baseBands, baseSets, freshBands, freshSets,
        threshold)
      .select(col("b").as(idCol)).distinct()
    exactKept.join(dropIds, Seq(idCol), "left_anti")
  }

  /** E2l ✱: DELETES FOR THE PERSISTED NEAR-DUP STATE — the k16
    * forget-request composed with the LSH signature table, closing the
    * same lifecycle gap e3_ivf_delete closed for the ANN index: before
    * this, honoring a deletion against a frozen dedup corpus meant
    * rebuilding its signature table. The corpus signs into a
    * cell-partitioned table; a forget request tombstones ids (O(ids)
    * sidecar, replay harmless); the gate asserts in-plan that
    * (a) admission through the merge-on-read view EQUALS a fresh-build
    * admission over the survivors (a stale band key, digest, or
    * shingle set from any deleted doc breaks equality), (b) admission
    * is unchanged after partition-local compaction folds the sidecar,
    * and (c) the delete actually WIDENED admission (a fresh doc whose
    * only near-dup/exact match was deleted is now admitted — the gate
    * cannot pass vacuously). */
  private val e2LshDelete: Q = (s, dir) => {
    import graft.ext.Similarity.{ivfCompact, ivfDelete, ivfReadIndex}
    val (sn, kk, bb, th) = (3, 64, 16, 0.8)
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val path = graft.lake.Lake.scratchDir("e2_lsh_del") + "/sigs"
    lshWriteSignatures(docs, "doc_id", "text", sn, kk, path)
    val delIds = docs.filter(col("doc_id") % 7 === 3).select("doc_id")
    ivfDelete(delIds, path, idCol = "id")
    ivfDelete(delIds.limit(20), path, idCol = "id") // replay harmless
    val fresh = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" zzduplicate")).as("text")))
    def admit(tbl: DataFrame): DataFrame =
      lshAdmitAgainstSignatures(tbl, fresh, "doc_id", "text",
        sn, kk, bb, th).select(col("doc_id"))
    val admitted = admit(ivfReadIndex(s, path, idCol = "id"))
      .localCheckpoint(eager = false)
    val survivors = docs.join(delIds, Seq("doc_id"), "left_anti")
    val wanted = admit(lshSignatureTable(survivors, "doc_id", "text",
      sn, kk)).localCheckpoint(eager = false)
    val preDelete = admit(lshSignatureTable(docs, "doc_id", "text",
      sn, kk)).localCheckpoint(eager = false)
    ivfCompact(s, path, idCol = "id")
    val postCompact = admit(s.read.parquet(path))
      .localCheckpoint(eager = false)
    def eqCol(a: DataFrame, b: DataFrame, name: String): DataFrame =
      a.exceptAll(b).agg(count(lit(1)).as("x"))
        .crossJoin(b.exceptAll(a).agg(count(lit(1)).as("y")))
        .select((col("x") === 0 && col("y") === 0).as(name))
    eqCol(admitted, wanted, "mor_equals_fresh_build")
      .crossJoin(eqCol(postCompact, wanted, "compaction_preserves"))
      .crossJoin(wanted.exceptAll(preDelete)
        .agg((count(lit(1)) > 0).as("delete_widens_admission")))
  }

  /** E2c: EXACT n-gram Jaccard similarity join via prefix filtering
    * (the AllPairs/PPJoin family — Chaudhuri et al. ICDE'06, Bayardo
    * et al. WWW'07, Vernica et al. SIGMOD'10 — the standard exact
    * set-similarity-join shape on MapReduce-style engines). Unlike the
    * MinHash path this returns the EXACT answer, no probabilistic
    * recall:
    *
    *  1. global token order: shingles ranked by (frequency, token) —
    *     one explode + groupBy;
    *  2. prefix blocking: a doc with |s| shingles emits only its
    *     |s| − ⌈t·|s|⌉ + 1 RAREST shingles as join keys. Any pair with
    *     J ≥ t must share a prefix token (pigeonhole on the global
    *     order), so candidates are complete; rare-token postings keep
    *     buckets small, so candidate volume stays near-linear;
    *  3. length filter: J ≥ t ⇒ min|s| ≥ t·max|s| prunes before the
    *     exact verification;
    *  4. exact Jaccard verification on candidates only.
    *
    * Shingle width is the blocking lever: prefix filtering needs a
    * skewed token-frequency distribution, so pick n large enough that
    * most n-grams are rare. On the synthetic corpus (small vocabulary)
    * bigrams give ~270-doc postings → 2.1M candidates at 5k docs, while
    * trigrams give ≤ 8-doc postings → 70k candidates (~14·n, linear).
    *
    * Scale posture: two shuffles (token stats, prefix join) + the
    * candidate verification join, all equi-joins; nothing all-pairs.
    * Returns (a, b, jaccard) with a < b, J ≥ threshold. */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.75): DataFrame =
    ngramJaccardPairsAgainst(df, df, idCol, textCol, shingleN, threshold)

  /** ASYMMETRIC [[ngramJaccardPairs]]: exact J ≥ threshold pairs that
    * TOUCH the probe batch — (base∪probe)×probe plus probe×probe, never
    * base×base. This is the pair generator incremental cluster
    * maintenance needs: after an ingest batch lands, the only edges the
    * union graph gains are edges with a probe endpoint, so the prefix
    * join's b-side shrinks from the corpus to the batch (work scales
    * with the batch, not the corpus — the 100 TB shape). Same exact
    * AllPairs prefix filter as the symmetric join, with the GLOBAL
    * token-frequency order computed over base∪probe so both sides
    * prune under one order. REQUIRES (like [[incrementalDedup]]): every
    * probe id exceeds every base id — that is what keeps a.id < b.id
    * canonical with the b-side restricted to probe. Returns
    * (a, b, jaccard), b always a probe id. Passing the SAME frame as
    * `base` and `probe` is the symmetric self-join: one set build, one
    * prefix table feeding both sides of the join. */
  def ngramJaccardPairsAgainst(
      base: DataFrame, probe: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.75): DataFrame = {
    def setsOf(df: DataFrame) =
      Tables.spread(df.select(col(idCol), col(textCol)))
        .select(col(idCol).as("id"),
          shingles(col(textCol), shingleN).as("sh"))
        .filter(size(col("sh")) > 0).localCheckpoint(eager = false)
    val probeSets = setsOf(probe)
    val allSets = if (probe eq base) probeSets
      else setsOf(base).unionByName(probeSets).localCheckpoint(eager = false)
    val tokens = allSets.select(col("id"), explode(col("sh")).as("tok"))
    val freq = tokens.groupBy(col("tok")).agg(count(lit(1)).as("f"))
    // ε guards the PRUNING arithmetic only (never the exact verification):
    // t·|s| in doubles can land a hair above an exact integer (0.8·5 =
    // 4.0000000000000004), which would shorten the prefix / tighten the
    // length filter and silently drop true pairs. ε admits at most a few
    // extra candidates, which exact verification discards.
    val eps = 1e-9
    // per doc: tokens sorted by global (f, tok) order, keep the prefix
    def prefixesOf(s: DataFrame) = s
      .select(col("id"), explode(col("sh")).as("tok"))
      .join(freq, Seq("tok"))
      .groupBy(col("id"))
      .agg(collect_list(struct(col("f"), col("tok"))).as("ts"))
      .select(col("id"),
        slice(array_sort(col("ts")),
          lit(1),
          size(col("ts")) -
            ceil(lit(threshold) * size(col("ts")) - eps).cast("int") + 1)
          .as("pref"),
        size(col("ts")).as("n_sh"))
      .select(col("id"), col("n_sh"),
        explode(transform(col("pref"), s => s.getField("tok"))).as("tok"))
    val allPrefixes = prefixesOf(allSets)
    val probePrefixes =
      if (probe eq base) allPrefixes else prefixesOf(probeSets)
    val candidates = allPrefixes.as("a")
      .join(probePrefixes.as("b"),
        col("a.tok") === col("b.tok") && col("a.id") < col("b.id") &&
          // length filter: J ≥ t ⇒ t·max(|a|,|b|) ≤ min(|a|,|b|)
          least(col("a.n_sh"), col("b.n_sh")).cast("double") >=
            lit(threshold) * greatest(col("a.n_sh"), col("b.n_sh")) - eps)
      .select(col("a.id").as("a"), col("b.id").as("b"))
      .distinct()
    jaccardRefine(candidates, allSets, probeSets, threshold)
  }

  /** Containment (asymmetric resemblance, Broder 1997) self-join — the
    * doc-IN-doc detector symmetric Jaccard misses: a page embedded in a
    * page-plus-boilerplate has low Jaccard but containment ≈ 1. EXACT
    * via asymmetric prefix filtering: C(A→B) = |S(A)∩S(B)|/|S(A)| ≥ p/q
    * means B misses at most |S(A)| − ⌈p·|S(A)|/q⌉ of A's shingles, so B
    * shares at least one of ANY (misses+1)-sized subset of A (the
    * AllPairs pigeonhole, asymmetric flavor) — we block on the globally
    * RAREST such prefix (order by (df, tok)). The threshold is a
    * RATIONAL p/q and both prefix length and the verification predicate
    * (q·shared ≥ p·|A|) are pure integer arithmetic — no float boundary
    * can drop an exactly-at-threshold pair in either engine.
    *
    * Scale posture: token document frequencies (a keyed aggregation),
    * then a PER-DOC prefix window ordered by (df, tok) — that pair IS
    * the global-rarity total order, so no global rank (and no
    * single-partition sort) is ever materialized — prefix equi-join on
    * the rarest tokens, then ONE keyed verification join restricted to
    * candidates. Nothing all-pairs, nothing unpartitioned. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      p: Int, q: Int, shingleN: Int = 3): DataFrame = {
    // One checkpointed shingle-SET table feeds everything (r14
    // restructure, guide §2.3/§2.4): the token stream (prefix build +
    // candidate join) explodes FROM it, and verification intersects
    // the sorted set arrays per candidate pair — two id-keyed joins +
    // a codegen'd size(array_intersect(...)) instead of the old
    // double token-explode join + (a, b)-keyed count aggregation
    // (three shuffles of every candidate's full token stream). Sets
    // are distinct by construction (shingles array_distinct), so
    // |intersect| IS the exact shared count.
    val sets = Tables.spread(df.select(col(idCol), col(textCol)))
      .select(col(idCol).as("id"),
        array_sort(shingles(col(textCol), shingleN)).as("sh"))
      .select(col("id"), col("sh"), size(col("sh")).cast("long").as("na"))
      .filter(col("na") > 0)
      .localCheckpoint(eager = false)
    val toksRaw = sets.select(col("id"), explode(col("sh")).as("tok"))
    val dfc = toksRaw.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val toks = toksRaw.join(dfc, Seq("tok"))
      .localCheckpoint(eager = false)
    val prefix = toks
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df"), col("tok"))))
      .join(sets.select(col("id"), col("na")), Seq("id"))
      .filter(col("pos") <=
        col("na") - expr(s"($p * na + $q - 1) div $q") + 1)
    val cands = prefix.select(col("id").as("a"), col("tok"))
      .join(toks.select(col("id").as("b"), col("tok")), Seq("tok"))
      .filter(col("a") =!= col("b"))
      .select(col("a"), col("b")).distinct()
    cands
      .join(sets.select(col("id").as("a"), col("sh").as("sha"),
        col("na")), Seq("a"))
      .join(sets.select(col("id").as("b"), col("sh").as("shb")), Seq("b"))
      .withColumn("shared",
        size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .filter(col("shared") * q >= col("na") * p)
      .select(col("a").as("contained_id"), col("b").as("container_id"),
        col("na").as("n_shingles"),
        round(col("shared").cast("double") / col("na"), 4)
          .as("containment"))
      .orderBy(col("contained_id"), col("container_id"))
  }

  /** Deletion-neighborhood (SymSpell-family) edit-distance similarity
    * join: the EXACT set of pairs with Levenshtein(a,b) ≤ maxDist inside
    * a blocking key, without comparing all pairs.
    *
    * Pigeonhole: an optimal alignment witnessing lev(a,b) ≤ d touches at
    * most d character positions on each side, so deleting the touched
    * characters from each string leaves the SAME subsequence — the
    * ≤d-deletion neighborhoods of a and b must intersect. Candidate
    * generation is therefore a SELF-JOIN of narrow
    * (block, xxhash64(variant), id) triples on (block, hash) with
    * id < id: a linear explode of 1 + L + L·(L−1)/2 variants per row
    * (short entity strings — names, titles — are the domain) shuffles
    * ~20-byte rows ONLY — never the source string. Pairing via join
    * rather than per-bucket array construction matters for degenerate
    * inputs (e.g. thousands of length-≤2 strings whose variants all
    * collapse to the empty string): a hot (blk, h) key STREAMS its k²
    * matches through the sort-merge join's spillable match buffer,
    * where a collect_set + flatten/transform pairing would materialize
    * all k²/2 candidate structs inside ONE aggregation row and hit the
    * 2 GB array limit in a single task. Strings re-attach to the
    * (key_a, key_b) survivors via two narrow joins (AQE broadcasts the
    * entity side when small) for exact `levenshtein` verification. Hash
    * collisions and alignment-free variant coincidences only ADD
    * candidates, which verification discards — recall is structural. A
    * hot bucket holds the ids of genuinely colliding variants, so its
    * width tracks duplicate density, never n. At 100 TB: one narrow
    * self-join + two id-keyed joins, candidate volume tracks
    * true-duplicate density + collision noise, never n². */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
      blockCol: String, maxDist: Int = 2): DataFrame = {
    // Contract: idCol must be unique PER BLOCK (candidates re-attach to
    // their source rows on (id, blk); a duplicated id within one block
    // would multiply pairs).
    require(maxDist == 1 || maxDist == 2,
      "deletion neighborhoods enumerated for maxDist in {1, 2}")
    val base = Tables.spread(
        df.select(col(idCol).as("id"), col(blockCol).as("blk"),
          col(strCol).as("s"))).filter(col("s").isNotNull)
    // One-deletion variants; guarded so sequence() never runs backwards
    // (Spark's sequence(1, 0) DESCENDS instead of yielding empty).
    val del1 = "transform(sequence(1, length(s)), i -> " +
      "concat(substring(s, 1, i-1), substring(s, i+1, length(s))))"
    val del2 = "flatten(transform(sequence(1, length(s)-1), i -> " +
      "transform(sequence(i+1, length(s)), j -> " +
      "concat(substring(s, 1, i-1), substring(s, i+1, j-i-1), " +
      "substring(s, j+1, length(s))))))"
    val variants =
      if (maxDist == 1)
        s"""CASE WHEN length(s) = 0 THEN array(s)
           |ELSE array_distinct(concat(array(s), $del1)) END""".stripMargin
      else
        s"""CASE WHEN length(s) = 0 THEN array(s)
           |WHEN length(s) = 1 THEN array_distinct(concat(array(s), $del1))
           |ELSE array_distinct(concat(array(s), $del1, $del2)) END""".stripMargin
    val keyed = base
      .select(col("id"), col("blk"), explode(expr(variants)).as("v"))
      .select(col("blk"), xxhash64(col("v")).as("h"), col("id"))
    // Narrow (blk, h) self-join with id < id — see scaladoc: a hot
    // variant bucket streams its quadratic match volume through the
    // join's spillable buffer instead of one k²/2-struct agg row.
    // Per-row duplicate (blk, h, id) triples (two variants of the same
    // row hash-colliding) only repeat pairs; distinct() absorbs them.
    val pairs = keyed.as("ka")
      .join(keyed.as("kb"),
        col("ka.blk") === col("kb.blk") && col("ka.h") === col("kb.h") &&
          col("ka.id") < col("kb.id"))
      .select(col("ka.blk").as("pblk"), col("ka.id").as("key_a"),
        col("kb.id").as("key_b"))
      .distinct()
    // Re-attach on (id, blk): a candidate is verified against the exact
    // (block, string) row that produced it, so duplicate ids ACROSS
    // blocks stay correct. Ids duplicated WITHIN a block still multiply
    // pairs — idCol is documented as unique-per-block.
    pairs
      .join(base.as("a"),
        col("key_a") === col("a.id") && col("pblk") === col("a.blk"))
      .join(base.as("b"),
        col("key_b") === col("b.id") && col("pblk") === col("b.blk"))
      .filter(levenshtein(col("a.s"), col("b.s")) <= maxDist)
      .select(col("key_a"), col("key_b"),
        levenshtein(col("a.s"), col("b.s")).as("dist"))
      .distinct()
  }

  /** E12: Jaro-Winkler entity resolution — score within-block name
    * pairs with the native codegen'd [[graft.functions.JaroWinkler]]
    * expression (Spark has no built-in; semantics pinned byte-for-byte
    * to DuckDB's `jaro_winkler_similarity`, which is the oracle).
    *
    * The scorer runs over the VALUE DOMAIN, not the row population:
    * entity-name columns are heavily duplicated (every spelling occurs
    * many times — here ~hundreds of distinct part names across 10⁴–10⁶
    * rows), so JW is evaluated once per distinct within-block name
    * PAIR and the verdict fans back out to id pairs through plain
    * equi-joins. Identical-name id pairs shortcut the scorer entirely
    * (JW(s,s) = 1 ≥ θ on both engines, for any nonempty s): they come
    * from one output-sized (blk, name) self-join. As rows scale 100×,
    * the scored pair count tracks (distinct names)², which for a
    * bounded name vocabulary is CONSTANT — only the output-sized
    * expansion joins grow.
    *
    * Cross-name candidate enumeration is NOT all-pairs either:
    * [[jaroWinklerCandidates]] prefix-filters (byte, occurrence) token
    * bags sub-quadratically in the distinct-name domain,
    * recall-lossless — see its scaladoc for the lemma. (Naive
    * length/string-prefix blocking would LOSE recall: JW ≥ θ does not
    * imply prefix equality — a first-letter transposition keeps JW
    * high. The char-bag route is exact.) Survivors pass
    * [[graft.functions.CharBagOverlap]]'s pair-level division-free
    * bound I·(la+lb) ≥ (5θ−3)·la·lb (m ≤ I chain; derivation in the
    * expression's scaladoc) before any O(la·lb) JW work. */
  def jaroWinklerPairs(df: DataFrame, idCol: String, strCol: String,
      blockCol: String, threshold: Double): DataFrame = {
    val bagBound = 5.0 * threshold - 3.0
    val base = Tables.spread(
        df.select(col(idCol).as("id"), col(blockCol).as("blk"),
          col(strCol).as("s"))).filter(col("s").isNotNull)
      .localCheckpoint(eager = false)
    // Identical-name pairs: JW = 1.0 exactly (both engines), no scoring.
    // Empty strings are the one exception (JW('','') = 0) — excluded.
    val same = base.as("x")
      .join(base.as("y"),
        col("x.blk") === col("y.blk") && col("x.s") === col("y.s") &&
          col("x.id") < col("y.id"))
      .filter(octet_length(col("x.s")) > 0)
      .select(col("x.id").as("key_a"), col("y.id").as("key_b"),
        lit(1.0).as("jw"))
    // Distinct cross-name pairs: prefix-filtered candidates, bag-bound
    // gate, exact JW — each evaluated ONCE per (blk, sa, sb).
    val names = base.select(col("blk"), col("s")).distinct()
      .localCheckpoint(eager = false)
    val la = octet_length(col("sa")).cast("double")
    val lb = octet_length(col("sb")).cast("double")
    // The lazy checkpoint is a PUSHDOWN BARRIER, not a reuse cache:
    // without it Catalyst pushes the bag bound and the JW scorer into
    // the candidate token join's condition (they only reference sa/sb,
    // which the prefix rows carry), re-evaluating both once per shared
    // token instead of once per distinct candidate pair.
    val scored = jaroWinklerCandidates(names, threshold)
      .localCheckpoint(eager = false)
      .filter(
        graft.functions.CharBagOverlap.charBagOverlap(col("sa"), col("sb"))
          .cast("double") * (la + lb) >= lit(bagBound) * la * lb)
      .select(col("blk"), col("sa"), col("sb"),
        graft.functions.JaroWinkler.jaroWinkler(col("sa"), col("sb"))
          .as("jw"))
      .filter(col("jw") >= threshold)
    // Fan out to id pairs: sa ≠ sb, so every (a-row, b-row) combination
    // is one unordered id pair — order keys with least/greatest.
    val cross = scored.as("sc")
      .join(base.as("a"),
        col("sc.blk") === col("a.blk") && col("sc.sa") === col("a.s"))
      .join(base.as("b"),
        col("sc.blk") === col("b.blk") && col("sc.sb") === col("b.s"))
      .select(least(col("a.id"), col("b.id")).as("key_a"),
        greatest(col("a.id"), col("b.id")).as("key_b"), col("jw"))
    same.unionAll(cross)
      .select(col("key_a"), col("key_b"), round(col("jw"), 6).as("jw"))
  }

  /** Candidate DISTINCT-NAME pairs for [[jaroWinklerPairs]] via
    * PPJoin-style prefix filtering over (byte, occurrence) tokens —
    * sub-quadratic in the per-block name domain, recall-LOSSLESS
    * (exposed separately so the spec can assert the
    * enumerated-candidate count ≪ Σ|domain|²).
    *
    * Derivation (the m ≤ I chain from [[graft.functions.CharBagOverlap]]
    * continued one step): JW ≥ θ ⇒ byte-bag overlap
    * I ≥ (5θ−3)·la·lb/(la+lb), and I ≤ min(la,lb) forces
    * min ≥ (5θ−4)·max, so substituting the worst admissible partner
    * length gives the PER-RECORD bound I ≥ ⌈(5θ−4)·l⌉ for EACH side's
    * own length l. Expanding bags to distinct (byte, occurrence) tokens
    * ([[graft.functions.ByteBagTokens]]) makes I a set overlap, and the
    * asymmetric prefix-filter lemma applies: under any global total
    * order, if |Ta ∩ Tb| ≥ t_a and ≥ t_b, the first |Ta| − t_a + 1
    * tokens of a and first |Tb| − t_b + 1 of b must share a token
    * (else, writing wa/wb for the largest prefix token of each side and
    * assuming wa < wb, every common token in pref_a would rank < wb and
    * hence lie in pref_b too — so ALL common tokens sit in a's
    * (t_a − 1)-token suffix, contradicting |Ta ∩ Tb| ≥ t_a). Ordering
    * tokens by ascending (frequency-within-block, token) keeps postings
    * of prefix tokens rare, so the (blk, tok) equi-join enumerates
    * near-linear candidates instead of Σ|block|² — same machinery as
    * [[ngramJaccardPairs]], over 1-byte grams.
    *
    * θ ≤ 0.8 degrades gracefully: the per-record bound collapses to
    * t = 1 (any JW > 0 pair shares a byte), i.e. full-token-join — the
    * filter is only sub-quadratic for high thresholds, which is the
    * entity-resolution regime. Empty strings emit no tokens and score
    * JW = 0 on both engines, so dropping them is exact for θ > 0.
    *
    * Takes the DISTINCT (blk, s) name-domain frame; returns
    * (blk, sa, sb) with sa < sb, one row per (block, unordered name
    * pair). Scale posture: one explode (l tokens per name — JW is a
    * SHORT-string scorer; document-length inputs belong to the shingle
    * paths), one (blk, tok) frequency agg, one per-name sort-and-slice
    * agg, one equi-join on (blk, tok) + a distinct. Nothing all-pairs
    * in the row population — only candidate name pairs are enumerated. */
  private[graft] def jaroWinklerCandidates(
      names: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"jaroWinklerPairs threshold must be in (0, 1], got $threshold")
    val tokBound = 5.0 * threshold - 4.0
    // ε guards pruning arithmetic only (same rationale as
    // ngramJaccardPairs): never lets a float wobble SHORTEN a prefix or
    // tighten the length filter; a too-long prefix only adds candidates.
    val eps = 1e-9
    val toks = names.select(col("blk"), col("s"),
      explode(graft.functions.ByteBagTokens.byteBagTokens(col("s")))
        .as("tok"))
    val freq = toks.groupBy(col("blk"), col("tok"))
      .agg(count(lit(1)).as("f"))
    val prefixes = toks.join(freq, Seq("blk", "tok"))
      .groupBy(col("blk"), col("s"))
      .agg(collect_list(struct(col("f"), col("tok"))).as("ts"))
      .select(col("blk"), col("s"), size(col("ts")).as("len"),
        slice(array_sort(col("ts")), lit(1),
          size(col("ts")) -
            greatest(lit(1),
              ceil(lit(tokBound) * size(col("ts")) - eps).cast("int")) + 1)
          .as("pref"))
      .select(col("blk"), col("s"), col("len"),
        explode(transform(col("pref"), t => t.getField("tok"))).as("tok"))
    prefixes.as("pa")
      .join(prefixes.as("pb"),
        col("pa.blk") === col("pb.blk") && col("pa.tok") === col("pb.tok") &&
          col("pa.s") < col("pb.s") &&
          // length filter: JW ≥ θ ⇒ min(la,lb) ≥ (5θ−4)·max(la,lb)
          least(col("pa.len"), col("pb.len")).cast("double") >=
            lit(tokBound) * greatest(col("pa.len"), col("pb.len")) - eps)
      .select(col("pa.blk").as("blk"), col("pa.s").as("sa"),
        col("pb.s").as("sb"))
      .distinct()
  }

  /** E2b: SimHash LSH candidate pairs with exact Hamming refinement
    * values, BEFORE the maxHamming filter (exposed so the self-check can
    * assert an absolute candidate budget).
    *
    * Scheme: 64-bit fingerprints (custom codegen'd expression) split
    * into `bands` wide bit-slices; every document emits, per band, the
    * band value plus its `probeFlips`-bit neighborhood (multi-probe), so
    * two documents collide on a band iff their band values differ in
    * ≤ 2·probeFlips bits. Pigeonhole recall guarantee: Hamming(a,b) ≤
    * bands·(2·probeFlips+1) − 1 ⇒ some band differs in ≤ 2·probeFlips
    * bits ⇒ (a,b) is a candidate. Defaults (4 bands × 16 bits, 1-flip
    * probes) guarantee recall for Hamming ≤ 11 at a random-pair
    * collision rate of 4·137/2^16 ≈ 0.8% — ~120× below all-pairs. For
    * long-document/web-scale corpora where near-dups sit at Hamming ≤ 3
    * (the regime of Manku et al., WWW'07), probeFlips = 0 drops the
    * collision rate to 4/2^16 ≈ 6·10⁻⁵. Narrow (id, fp, bandKey) rows
    * only — no text is ever shuffled. */
  def simhashCandidates(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, bands: Int = 4, probeFlips: Int = 1): DataFrame =
    simhashCandidatesFromFps(
      df.select(col(idCol).as("id"),
        simhash64(shingles(col(textCol), shingleN)).as("fp")),
      bands, probeFlips)

  /** E2b candidate generation over a precomputed `(id, fp)` fingerprint
    * frame (materialize it if it is derived from an expensive scan —
    * both sides of the band self-join consume it). */
  def simhashCandidatesFromFps(
      fps: DataFrame, bands: Int = 4, probeFlips: Int = 1): DataFrame = {
    require(64 % bands == 0, "bands must divide 64")
    require(probeFlips == 0 || probeFlips == 1, "probeFlips ∈ {0, 1}")
    val bits = 64 / bands
    val mask = if (bits == 64) -1L else (1L << bits) - 1
    val bandsDf = fps.select(col("id"), col("fp"),
      explode(array((0 until bands).flatMap { b =>
        val base = shiftrightunsigned(col("fp"), b * bits).bitwiseAND(lit(mask))
        val probes = if (probeFlips == 1)
          (0 until bits).map(i => base.bitwiseXOR(lit(1L << i))) else Nil
        (base +: probes).map(k => struct(lit(b).as("band"), k.as("bh")))
      }: _*)).as("bk"))
    bandsDf.as("a")
      .join(bandsDf.as("b"),
        col("a.bk") === col("b.bk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("a"), col("b.id").as("b"),
        bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).as("hamming"))
      .distinct()
  }

  /** E2b: SimHash near-duplicate pairs — candidates refined to the
    * Hamming radius. maxHamming defaults to the banding scheme's exact
    * recall bound (11 for 4 bands × 1-flip probes); pairs beyond the
    * radius are out of contract. */
  def simhashNearDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, bands: Int = 4, probeFlips: Int = 1,
      maxHamming: Int = 11): DataFrame =
    simhashCandidates(df, idCol, textCol, shingleN, bands, probeFlips)
      .filter(col("hamming") <= maxHamming)

  // ------------------------------------------------------------ queries

  /** Documents plus planted duplicates: an exact copy of every 10th doc
    * and a one-word-appended mutation of every 20th (ids offset so the
    * oracle can name them). */
  private[ext] def withPlanted(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text")))
      .unionByName(docs.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" zzduplicate")).as("text")))

  /** E1: exact dedup over documents + planted exact copies — survivors
    * are the original ids with their copy counts. */
  private val e1DedupExact: Q = (s, dir) => {
    val all = withPlanted(t(s, dir, "documents"))
    // Copy counts join on the 32-byte digest, not the document text —
    // at scale the join key must be fixed-width.
    val counts = all.groupBy(sha2(col("text"), 256).as("digest"))
      .agg(count(lit(1)).as("n_copies"))
    exactDedup(all, "text", "doc_id")
      .join(counts, sha2(col("text"), 256) === col("digest"))
      .select(col("doc_id"), col("n_copies"))
      .orderBy(col("doc_id"))
  }

  /** E2: MinHash-LSH near-dedup over the natural corpus — the synthetic
    * documents contain real near-duplicate pairs, and the DuckDB oracle
    * recomputes the exact all-pairs shingle Jaccard, so this checks LSH
    * recall AND the refinement values. 16 bands × 4 rows ⇒ P(miss) at
    * J=0.8 is (1-0.8⁴)¹⁶ ≈ 2·10⁻⁴. */
  private val e2MinhashNearDup: Q = (s, dir) =>
    minhashNearDupPairs(t(s, dir, "documents"), "doc_id", "text",
      shingleN = 3, k = 64, bands = 16, threshold = 0.8)
      .orderBy(col("a"), col("b"))

  /** E2b: SimHash near-dup self-check, three bounds in ONE plan:
    *  - recall: every minhash-verified J ≥ 0.9 pair whose fingerprint
    *    Hamming is within the operator's radius (≤ 11) MUST be found —
    *    structurally guaranteed by the pigeonhole banding, so a miss is
    *    an implementation bug (measured on this corpus: J ≥ 0.9 pairs
    *    reach Hamming 11, never beyond — the radius covers them all);
    *  - precision: min Jaccard over the high-confidence band
    *    (Hamming ≤ 8) ≥ 0.5. The floor excludes Hamming 9-11: at
    *    12.5M pairs (sf0.1) the birthday effect admits a few random
    *    64-bit collisions at distance ≥ 9 — inherent to SimHash, and
    *    why the operator reports the distance for downstream use;
    *  - budget: candidate volume (pre-refinement) ≤ 64·n ABSOLUTE
    *    (measured: ~2·n at sf0.01, ~22·n at sf0.1). The banding itself
    *    admits a ~0.8% constant FRACTION of pairs on random text, so
    *    this bound is an operating-scale guard, not an asymptotic
    *    property: past n ≈ 15k random docs it trips, which is the
    *    design intent — fail loudly at the scale where a 64-bit
    *    fingerprint stops being selective enough and must widen,
    *    instead of silently going quadratic. */
  /** E2c: exact trigram-Jaccard similarity join over the natural corpus
    * — the DuckDB oracle recomputes the exact all-pairs answer, so this
    * checks the prefix-filter path end to end (completeness AND
    * values): any lost candidate is a hash mismatch. */
  /** Connected components over a near-dup pair set — the transitive
    * clustering step real dedup pipelines run after pair generation
    * (one-hop removal under-merges: a~b, b~c leaves a and c apart).
    *
    * The plan is chosen from the input's observed size. The pair set is
    * materialised once; when it fits under the session's broadcast
    * budget (`spark.sql.autoBroadcastJoinThreshold`, at Spark's
    * per-row size estimate — the session's own measure of "small
    * enough to ship whole") and its ids are integral, it is collected
    * and finished on the driver by a min-rooted union-find
    * ([[unionFindLabels]]): one job instead of a few dozen tiny-data
    * rounds, and a local (id, comp) relation with the same columns,
    * types and labels as the distributed result. A threshold ≤ 0
    * disables the local finish.
    *
    * Larger edge sets run alternating large-star/small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14). Each round is two passes over the edge set,
    * each pass a per-node min + one equi-join — and the round count is
    * O(log n) REGARDLESS of component diameter, because every round at
    * least halves the height of the partial star forest. That is the
    * property that matters at web scale: a crawl dup graph with
    * chain-shaped clusters (mirror-of-a-mirror-of-a-mirror) has
    * diameter in the thousands, which would make diameter-bound label
    * propagation unbounded, while this converges in a few dozen rounds
    * no matter the shape. Per round the edge set only shrinks toward
    * the star forest (≤ |E| edges alive), every join is an equi-join,
    * and lineage is truncated by one checkpoint per round (also what
    * the convergence check consumes).
    *
    * large-star(u): hook every strictly LARGER neighbor of u onto
    * m = min(Γ(u) ∪ {u}). small-star(u): hook every smaller-or-equal
    * neighbor (and u itself) onto the minimum of that set. The fixed
    * point is a forest of stars centered on each component's minimum
    * id; convergence is detected exactly (symmetric set difference
    * empty), never by a lossy checksum. Loud failure, never a silent
    * partial merge, if `maxIter` rounds are hit. Returns (id, component)
    * for every node that appears in a pair. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    // The pair generator upstream (an LSH/similarity join) is usually
    // the most expensive subtree in the whole query — run it ONCE:
    // the size probe, `nodes` and `edges` all read this checkpoint.
    val p = pairs.select(col("a"), col("b")).localCheckpoint(eager = false)
    val nodes = p.select(col("a").as("id"))
      .union(p.select(col("b").as("id"))).distinct()
    // Canonical undirected edge set: (big > small), no self-loops.
    val canonical = p
      .filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("big"),
        least(col("a"), col("b")).as("small"))
      .distinct()
    collectIfSmall(p) match {
      case Some(rows) =>
        // The distributed result's schema, read off its analysed plan.
        val schema = starLabels(nodes, canonical).schema
        p.sparkSession.createDataFrame(
          unionFindLabels(rows, schema("id").dataType).asJava, schema)
      case None =>
        starContraction(nodes.localCheckpoint(eager = false),
          canonical.localCheckpoint(eager = false), maxIter)
    }
  }

  /** Large-star/small-star rounds from the canonical edge set to its
    * star forest, then each node's label. */
  private def starContraction(nodes: DataFrame, canonical: DataFrame,
      maxIter: Int): DataFrame = {
    var edges = canonical
    var iter = 0
    var converged = false
    while (!converged) {
      iter += 1
      if (iter > maxIter)
        throw new IllegalStateException(
          s"connectedComponents: no convergence after $maxIter rounds")
      // LAZY checkpoint: the one convergence action below forces the
      // full shuffle-map stage over `next` (except is shuffle-keyed on
      // the whole row), so the checkpoint materializes as a side effect
      // of that SAME job — exactly one driver-synchronized action per
      // round, with lineage still truncated each round.
      val next = smallStar(largeStar(edges)).localCheckpoint(eager = false)
      // Exact convergence: the canonical edge sets are equal (empty
      // symmetric difference, checked in ONE action). Exactness beats
      // any sum/hash checksum (no collision caveat).
      converged = next.except(edges).union(edges.except(next)).isEmpty
      edges = next
    }
    starLabels(nodes, edges)
  }

  /** Labels from a star forest rooted at component minima: every
    * non-root appears exactly once as `big`, pointing at its root. */
  private def starLabels(nodes: DataFrame, stars: DataFrame): DataFrame =
    nodes.join(stars, col("id") === col("big"), "left")
      .select(col("id"), coalesce(col("small"), col("id")).as("comp"))

  /** `p`'s (a, b) rows when both ids are integral and the set fits the
    * session's broadcast budget, else None. One job in the common
    * case, which also materialises `p`'s checkpoint for the rounds:
    * every task returns its partition's row count, and its rows only
    * while the partition holds at most its share of the budget, so the
    * driver never receives much more than the budget. A set that fits
    * but is skewed across partitions costs one more collect. */
  private def collectIfSmall(p: DataFrame): Option[Array[Row]] = {
    val budget = p.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val integral = p.schema.fields.forall(_.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    })
    if (budget <= 0 || !integral) return None
    // Spark's size estimate for a row: 8 bytes of header plus each
    // column's default size (EstimationUtils.getSizePerRow).
    val maxRows = budget / (8L + p.schema.fields.map(_.dataType.defaultSize).sum)
    val rdd = p.rdd
    val share = maxRows / math.max(1, rdd.getNumPartitions) + 1
    val parts = rdd.mapPartitions { it =>
      val kept = mutable.ArrayBuffer.empty[Row]
      var n = 0L
      it.foreach { r => n += 1; if (n <= share) kept += r }
      Iterator.single((n, if (n <= share) kept.toArray else Array.empty[Row]))
    }.collect()
    if (parts.map(_._1).sum > maxRows) None
    else if (parts.forall(_._1 <= share)) Some(parts.flatMap(_._2))
    else Some(p.collect())
  }

  /** Min-rooted union-find over collected (a, b) pairs — the driver's
    * twin of [[starContraction]]: one (id, comp) row per distinct
    * endpoint, comp the minimum id of its component. As in the star
    * forest, a self-loop only adds its node, and a null endpoint adds
    * the pair's other endpoint plus one (null, null) row. Ids are
    * integral and returned as `idType`. */
  private def unionFindLabels(pairs: Array[Row], idType: DataType): Seq[Row] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = { // path halving
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    def node(v: Any): Option[Long] = Option(v).map { x =>
      val id = x.asInstanceOf[Number].longValue
      parent.getOrElseUpdate(id, id)
      id
    }
    var sawNull = false
    pairs.foreach { r =>
      (node(r.get(0)), node(r.get(1))) match {
        case (Some(a), Some(b)) =>
          // Hook the larger root under the smaller: roots stay minima.
          val (ra, rb) = (find(a), find(b))
          if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
        case _ => sawNull = true
      }
    }
    val out: Long => Any = idType match {
      case ByteType => _.toByte
      case ShortType => _.toShort
      case IntegerType => _.toInt
      case _ => identity
    }
    parent.keys.toSeq.map(id => Row(out(id), out(find(id)))) ++
      (if (sawNull) Seq(Row(null, null)) else Nil)
  }

  /** INCREMENTAL connected-components maintenance — update persisted
    * cluster labels after an ingest batch WITHOUT recomputing CC over
    * the corpus (the missing lifecycle piece next to the e2 state
    * family's build/admit/delete/stream-ingest; at 100 TB a full
    * [[connectedComponents]] rerun per batch is the non-starter).
    *
    * `oldLabels` is a prior CC result (id, comp) — comp is the MIN
    * member id of its component, which is exactly what makes the
    * contraction below exact. `deltaPairs` (a, b) are the edges the
    * union graph GAINED: pairs touching the batch (e.g. from
    * [[ngramJaccardPairsAgainst]]). The update contracts every labeled
    * endpoint to its component id (a pre-contracted supernode; an
    * unlabeled endpoint — a new doc, or an old doc that had no pairs —
    * stands for itself), runs large-star/small-star ONLY on this
    * contracted delta graph (size ∝ batch edges, NOT corpus), and
    * re-roots exactly the touched components. Labels equal a full
    * recompute over corpus+batch BIT-FOR-BIT, not just up to
    * relabeling: each supernode id is its component's min member id,
    * so the contracted CC's min over {supernode ids, new ids} IS the
    * min over all merged members — the same label the full recompute
    * assigns (the e2_cluster_incremental oracle restates this with the
    * recursive-CTE closure over the union corpus). Within-corpus
    * connectivity needs no re-examination: the union graph's old edges
    * connect nothing the contraction hasn't already merged. */
  def connectedComponentsIncremental(oldLabels: DataFrame,
      deltaPairs: DataFrame, maxIter: Int = 25): DataFrame = {
    val labels = oldLabels.select(col("id"), col("comp"))
      .localCheckpoint(eager = false) // read by contraction + re-root
    val contracted = deltaPairs.select(col("a"), col("b"))
      .join(labels.select(col("id").as("a"), col("comp").as("ca")),
        Seq("a"), "left")
      .join(labels.select(col("id").as("b"), col("comp").as("cb")),
        Seq("b"), "left")
      .select(coalesce(col("ca"), col("a")).as("a"),
        coalesce(col("cb"), col("b")).as("b"))
    val superLabels = connectedComponents(contracted, maxIter)
      .localCheckpoint(eager = false) // re-root join + new-node emit
    // Old nodes: re-root through their component's supernode; a
    // component untouched by the delta keeps its label (left join).
    val updatedOld = labels
      .join(superLabels.select(col("id").as("comp"),
        col("comp").as("newComp")), Seq("comp"), "left")
      .select(col("id"), coalesce(col("newComp"), col("comp")).as("comp"))
    // Nodes first seen in the delta (batch docs, plus old docs whose
    // first-ever pair arrived with the batch) carry their CC label
    // directly; supernode rows are already covered by the re-root.
    val newNodes = superLabels
      .join(labels.select(col("id")), Seq("id"), "left_anti")
    updatedOld.unionByName(newNodes.select(col("id"), col("comp")))
  }

  /** One large-star pass: for each node u with neighborhood Γ(u) (both
    * edge orientations), hook every neighbor v > u onto
    * m = min(Γ(u) ∪ {u}). Emitted edges are canonical by construction
    * (v > u ≥ m). One groupBy(min) + one equi-join over 2|E| rows. */
  private def largeStar(edges: DataFrame): DataFrame = {
    val nbrs = edges.select(col("big").as("u"), col("small").as("v"))
      .union(edges.select(col("small").as("u"), col("big").as("v")))
    val mins = nbrs.groupBy(col("u"))
      .agg(min(col("v")).as("mv"))
      .select(col("u"), least(col("u"), col("mv")).as("m"))
    nbrs.join(mins, Seq("u"))
      .filter(col("v") > col("u"))
      .select(col("v").as("big"), col("m").as("small"))
      .distinct()
  }

  /** One small-star pass over canonical (big > small) edges: for each
    * node u, hook u and all its smaller neighbors onto the minimum of
    * that set. Emitted edges stay canonical (everything > the min).
    * One groupBy(min) + one equi-join over |E| rows. */
  private def smallStar(edges: DataFrame): DataFrame = {
    val mins = edges.groupBy(col("big")).agg(min(col("small")).as("m"))
    val hookNbrs = edges.join(mins, Seq("big"))
      .filter(col("small") =!= col("m"))
      .select(col("small").as("big"), col("m").as("small"))
    val hookSelf = mins.select(col("big"), col("m").as("small"))
    hookNbrs.union(hookSelf).distinct()
  }

  private val e2NgramJaccard: Q = (s, dir) =>
    ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
      shingleN = 3, threshold = 0.75)
      .orderBy(col("a"), col("b"))

  /** E2i: containment self-join over the corpus + PLANTED sub-documents
    * — every doc_id ≡ 0 (mod 9) re-emits its first ⌈n/2⌉ words as
    * doc_id+10⁶, whose shingle set is a subset by construction, so
    * each plant must surface against its base with containment 1.0
    * (natural exact-dup pairs surface too; the oracle's all-pairs
    * list-intersect restatement pins the complete pair set). */
  private val e2Containment: Q = (s, dir) => {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val w = split(col("text"), " ")
    val plants = t(s, dir, "documents").filter(col("doc_id") % 9 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        array_join(slice(w, lit(1), ((size(w) + 1) / 2).cast("int")), " ")
          .as("text"))
    containmentPairs(docs.unionByName(plants), "doc_id", "text",
      p = 4, q = 5)
  }

  private val e12JaroEr: Q = (s, dir) =>
    jaroWinklerPairs(t(s, dir, "part"), "p_partkey", "p_name",
      "p_brand", threshold = 0.88)
      .orderBy(col("key_a"), col("key_b"))

  /** E2e: exact edit-distance join over part names, blocked by brand —
    * the entity-resolution shape (short strings, coarse blocking key,
    * lev ≤ 2). The oracle is the naive all-pairs-within-block answer;
    * any pair the deletion-neighborhood join loses is a hash mismatch. */
  private val e2EditJoin: Q = (s, dir) =>
    editDistancePairs(t(s, dir, "part"), "p_partkey", "p_name",
      "p_brand", maxDist = 2)
      .orderBy(col("key_a"), col("key_b"))

  /** E2d: transitive near-dup clusters — exact pair set (so the edge
    * list is engine-independent) → connected components; the DuckDB
    * oracle recomputes the closure with a recursive CTE. */
  private val e2ClusterCc: Q = (s, dir) =>
    connectedComponents(
      ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, threshold = 0.75))
      .select(col("id").as("doc_id"), col("comp").as("component"))
      .orderBy(col("doc_id"))

  /** E2m: INCREMENTAL cluster maintenance after an ingest batch — the
    * labels [[connectedComponentsIncremental]] produces from the OLD
    * labels plus only the batch-touching delta pairs must EQUAL a full
    * recompute over corpus+batch (the oracle restates the full
    * recompute with the recursive-CTE closure over the union corpus —
    * any label the contraction gets wrong, any component the re-root
    * misses, any delta pair the asymmetric prefix join drops breaks
    * the hash). The batch is [[freshBatch]]: exact copies merge into
    * (or newly create) their source's cluster, mutations near-join,
    * halves stay novel — so the gate covers join-existing-cluster,
    * first-ever-pair-for-an-old-doc, and untouched-cluster label
    * stability in one result. */
  private val e2ClusterIncremental: Q = (s, dir) => {
    val docsFull = t(s, dir, "documents")
    val corpus = docsFull.select(col("doc_id"), col("text"))
    val oldLabels = connectedComponents(
      ngramJaccardPairs(corpus, "doc_id", "text",
        shingleN = 3, threshold = 0.75))
    val batch = freshBatch(docsFull).select(col("doc_id"), col("text"))
    val delta = ngramJaccardPairsAgainst(corpus, batch, "doc_id", "text",
      shingleN = 3, threshold = 0.75)
    connectedComponentsIncremental(oldLabels, delta)
      .select(col("id").as("doc_id"), col("comp").as("component"))
      .orderBy(col("doc_id"))
  }

  private val e2SimhashNearDup: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    // ONE materialized text→shingles pass feeds every subtree below
    // (simhash fingerprints, minhash ground truth, exact-Jaccard
    // refinement); at cluster scale this is the signature table.
    val sets = Tables.spread(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id").as("id"),
        shingles(col("text"), 3).as("sh")).localCheckpoint(eager = false)
    val fps = sets.select(col("id"), simhash64(col("sh")).as("fp"))
      .localCheckpoint(eager = false)
    // The candidate set is tiny after banding; checkpointing runs the
    // banding subtree once instead of once per consumer below.
    val cand = simhashCandidatesFromFps(fps).localCheckpoint(eager = false)
    val sim = cand.filter(col("hamming") <= 11)
    val simJ = sim
      .join(sets.as("sa"), col("a") === col("sa.id"))
      .join(sets.as("sb"), col("b") === col("sb.id"))
      .withColumn("jaccard",
        graft.functions.JaccardSim.jaccardSim(col("sa.sh"), col("sb.sh")))
    val highJ = minhashNearDupPairsAgainst(sets, sets, k = 64, bands = 16,
      threshold = 0.9)
      .join(fps.as("fa"), col("a") === col("fa.id"))
      .join(fps.as("fb"), col("b") === col("fb.id"))
      .filter(bit_count(col("fa.fp").bitwiseXOR(col("fb.fp"))) <= 11)
      .select(col("a"), col("b"))
    // All three bound checks inside ONE returned plan — no driver-side
    // actions, so the whole check executes exactly once.
    val missedAgg = highJ.join(sim.select(col("a"), col("b")),
        Seq("a", "b"), "left_anti")
      .agg(count(lit(1)).as("n_missed"))
    val minAgg = simJ.filter(col("hamming") <= 8)
      .agg(min(col("jaccard")).as("min_j"))
    val candAgg = cand.agg(count(lit(1)).as("n_cand"))
    val nAgg = docs.agg(count(lit(1)).as("n"))
    missedAgg.crossJoin(minAgg).crossJoin(candAgg).crossJoin(nAgg).select(
      (col("n_missed") === 0).as("recall_ok"),
      (col("min_j") >= 0.5).as("precision_ok"),
      (col("n_cand") <= col("n") * 64).as("cand_budget_ok"))
  }

  /** Fresh ingest batch for the incremental gate: exact copies of every
    * 10th doc, a one-word mutation of every 20th, and the front half of
    * every 25th (J ≈ 0.5 vs its source — genuinely novel at the 0.8
    * threshold). Ids offset above the corpus range, per the
    * `incrementalDedup` contract. */
  private[ext] def freshBatch(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"), col("lang"))
      .unionByName(docs.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" zzduplicate")).as("text"), col("lang")))
      .unionByName(docs.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 300000).as("doc_id"),
          col("text").substr(lit(1), expr("CAST(n_chars DIV 2 AS INT)"))
            .as("text"), col("lang")))

  /** E2e: incremental dedup of the fresh batch against the corpus —
    * exact copies and near-dup mutations must be rejected, the halved
    * novel docs admitted; the DuckDB oracle recomputes the whole
    * admission with EXACT all-pairs Jaccard restricted to fresh b-sides
    * (the same pairs the asymmetric band join is allowed to find). */
  private val e2Incremental: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val old = docs.select(col("doc_id"), col("text"), col("lang"))
    val fresh = freshBatch(docs)
    val kept = incrementalDedup(old, fresh, "doc_id", "text",
      shingleN = 3, k = 64, bands = 16, threshold = 0.8)
    fresh.groupBy(col("lang")).agg(count(lit(1)).as("n_fresh"))
      .join(kept.groupBy(col("lang")).agg(
        count(lit(1)).as("n_kept"), sum(col("doc_id")).as("sum_kept_ids")),
        Seq("lang"), "left")
      .select(col("lang"), col("n_fresh"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("sum_kept_ids"), lit(0L)).as("sum_kept_ids"))
      .orderBy(col("lang"))
  }

  /** E2f: bloom-prefiltered ingest admission, value-level oracle —
    * corpus = every doc_id ≡ 0 (mod 5), batch = the rest; admitted =
    * batch docs whose text digest is not in the corpus. The bloom
    * prefilter is recall-lossless (no false negatives) and its false
    * positives die in the exact anti-join, so the result must EQUAL
    * the plain anti-join answer DuckDB computes — a real value oracle,
    * not a self-check. */
  private val e2BloomIngest: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val corpus = docs.filter(col("doc_id") % 5 === 0)
    val batch = docs.filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id"), col("text"), col("lang"))
    bloomIngestFilter(corpus, batch, "text",
        expectedItems = 10000L, fpp = 0.01)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  /** Canonicalization regexes, shared verbatim with the oracle
    * (Java∩RE2: classes + quantifiers only). */
  val StripRe = "[^a-z0-9 ]"
  val SpaceRe = " +"

  /** Text canonicalization for dedup — lowercase, strip non-alnum,
    * collapse runs of spaces, trim: the normalization pass every
    * web-corpus dedup runs BEFORE hashing, so casing/punctuation
    * variants of one document collapse to one digest. Map-only. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), StripRe, ""), SpaceRe, " "))

  /** E1b: normalized dedup over a corpus with planted case/punctuation
    * variants (an UPPERCASED copy of every 8th doc, a punctuated copy
    * of every 12th). Raw distinct treats the variants as new documents;
    * normalized dedup collapses them — both counts plus the kept-id
    * checksum are value-gated, so a normalization bug (missed variant,
    * over-collapse) hash-fails. */
  private val e1bNormalizedDedup: Q = (s, dir) => {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
    val planted = docs
      .unionByName(docs.filter(col("doc_id") % 8 === 0)
        .select((col("doc_id") + 300000).as("doc_id"), col("lang"),
          upper(col("text")).as("text")))
      .unionByName(docs.filter(col("doc_id") % 12 === 0)
        .select((col("doc_id") + 400000).as("doc_id"), col("lang"),
          concat(lit("  "), col("text"), lit("!!  ")).as("text")))
    val kept = exactDedup(
      planted.withColumn("norm", normalizeText(col("text"))),
      "norm", "doc_id")
    planted.groupBy(col("lang")).agg(
      count(lit(1)).as("n_in"),
      // distinct on the 32-byte digest, NOT the raw text — the
      // distinct's shuffle key must never be a full document (the
      // oracle counts distinct raw text; sha2-256 equality is the
      // same partition function without moving document bodies)
      countDistinct(sha2(col("text"), 256)).as("n_raw_distinct"))
      .join(kept.groupBy(col("lang")).agg(
        count(lit(1)).as("n_norm_kept"),
        sum(col("doc_id")).as("sum_kept_ids")), Seq("lang"))
      .orderBy(col("lang"))
  }

  /** Cross-document repeated n-gram spans — the substring-level dedup
    * primitive (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better": repeated spans, not whole-document dups,
    * are what the model memorizes). Explodes every word `n`-gram with
    * a computed start index (map-only, like [[TrainPrep.chunkByWords]])
    * and aggregates ON THE GRAM'S sha-256 DIGEST, so the shuffle key is
    * a fixed 32-byte hash however long the span text is — the only
    * per-gram text that moves is one min() exemplar. Output: grams in
    * ≥ `minDocs` distinct docs, heaviest first.
    *
    * At 100 TB this exact shape holds: explode → digest-keyed partial
    * agg (map-side combine collapses each doc's internal repeats) →
    * one shuffle of (digest, counts) pairs. */
  def repeatedNgramSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int, minDocs: Int, k: Int): DataFrame = {
    val ws = split(col(textCol), " ")
    def grams = Tables.spread(docs.select(col(idCol), col(textCol)))
      .select(col(idCol).as("doc_id"), ws.as("ws"))
      .filter(size(col("ws")) >= n)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("ws")) - (n - 1))).as("i"),
        col("ws"))
      .select(col("doc_id"),
        array_join(slice(col("ws"), col("i"), lit(n)), " ").as("gram"))
      .select(col("doc_id"), sha2(col("gram"), 256).as("gram_sha"),
        col("gram"))
    // Counting carries NO text — a pure hash aggregation on the digest
    // (a min(gram) exemplar here would force a global string
    // SortAggregate over every gram in the corpus). The k winning
    // digests then broadcast back onto a regenerated gram stream
    // (map-only rescan) and distinct() recovers each winner's text:
    // sha-equal grams are textually identical, so the exemplar is a
    // grouping key, never an aggregation buffer.
    val winners = grams
      .groupBy(col("gram_sha"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(col("n_docs").desc, col("n_occ").desc, col("gram_sha"))
      .limit(k)
    grams.select(col("gram_sha"), col("gram"))
      .join(broadcast(winners), Seq("gram_sha"))
      .select(col("gram_sha"), col("n_docs"), col("n_occ"), col("gram"))
      .distinct()
      .orderBy(col("n_docs").desc, col("n_occ").desc, col("gram_sha"))
  }

  /** E2g: top-40 word 8-grams shared by ≥2 documents — the memorized-
    * span report. Full value-level oracle (DuckDB regenerates every
    * gram and its sha256, so a lost span, wrong window arithmetic, or
    * an off-by-one start index all hash-fail). */
  private val e2RepeatedNgrams: Q = (s, dir) =>
    repeatedNgramSpans(t(s, dir, "documents"), "doc_id", "text",
      n = 8, minDocs = 2, k = 40)

  /** E2h: per-document duplicated-span COVERAGE — the other half of
    * substring-level dedup (Lee et al. 2022 trim on the duplicated
    * *portion* of a document, not whole documents). A token position is
    * "duplicated" when covered by at least one word `n`-gram window
    * that also occurs in ≥ `minDocs` distinct documents; the output is
    * each document's duplicated-token count and fraction — the signal a
    * curation pipeline thresholds to drop or trim a document.
    *
    * Shape, and why it holds at 100 TB:
    *  1. gram stream: map-only explode of (doc_id, start, sha-256
    *     digest) — only 32-byte digests shuffle, never span text
    *     (the [[repeatedNgramSpans]] convention);
    *  2. duplicated digests: digest-keyed partial agg (map-side combine
    *     collapses a doc's internal repeats before the shuffle),
    *     df ≥ minDocs filter;
    *  3. mark windows: shuffle equi-join of the regenerated gram stream
    *     against the duplicated-digest set — NOT a broadcast, the dup
    *     set is corpus-sized at scale;
    *  4. interval union per doc: one window pass (running max of span
    *     ends ordered by start) — per-doc sorted state, no explode of
    *     covered positions (that would be an n× row blowup);
    *  5. left join back to per-doc token counts so clean documents
    *     report 0.
    * Every step is a map, a keyed agg, or an equi-join — no all-pairs
    * anywhere, and the window state is bounded by spans-per-doc. */
  /** Tokenized corpus (doc_id, token count, token array) — the shared
    * front of the substring-dedup family. */
  private def tokenized(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    Tables.spread(docs.select(col(idCol), col(textCol)))
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("ws"))
      .select(col("doc_id"), size(col("ws")).as("nt"), col("ws"))

  /** Distinct duplicated word-`n`-gram spans (doc_id, s, e) — windows
    * whose gram occurs in ≥ `minDocs` distinct documents. Steps 1-3 of
    * the [[substringDupCoverage]] scaladoc: digest-only gram shuffle,
    * df-filtered digest set, shuffle equi-join back (never a broadcast
    * — the dup set is corpus-sized at scale). */
  private[ext] def dupNgramSpans(base: DataFrame, n: Int,
      minDocs: Int): DataFrame = {
    def grams = base.filter(col("nt") >= n)
      .select(col("doc_id"),
        explode(sequence(lit(1), col("nt") - (n - 1))).as("s"),
        col("ws"))
      .select(col("doc_id"), col("s").cast("long").as("s"),
        sha2(array_join(slice(col("ws"), col("s"), lit(n)), " "), 256)
          .as("gram_sha"))
    val dupSha = grams.groupBy(col("gram_sha"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select("gram_sha")
    grams.join(dupSha, Seq("gram_sha"))
      .select(col("doc_id"), col("s"), (col("s") + (n - 1)).as("e"))
      .distinct()
  }

  def substringDupCoverage(docs: DataFrame, idCol: String,
      textCol: String, n: Int, minDocs: Int): DataFrame = {
    val base = tokenized(docs, idCol, textCol)
    val spans = dupNgramSpans(base, n, minDocs)
    // Union length of [s, e] intervals: a span's NEW coverage is its
    // end minus the larger of (its own start - 1) and the max end seen
    // so far — the classic sorted-interval sweep as one window expr.
    val prevMax = max(col("e")).over(
      Window.partitionBy(col("doc_id")).orderBy(col("s"), col("e"))
        .rowsBetween(Window.unboundedPreceding, -1))
    val perDoc = spans
      .withColumn("cov", greatest(lit(0L),
        col("e") - greatest(col("s") - 1, coalesce(prevMax, lit(0L)))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_spans"), sum(col("cov")).as("dup_tokens"))
    base.select(col("doc_id"), col("nt").cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        round(coalesce(col("dup_tokens"), lit(0L)) / col("n_tokens"), 4)
          .as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  /** E2h gate: 8-gram windows duplicated across ≥2 docs, full
    * value-level oracle — DuckDB re-derives every window, the
    * duplicated-digest set, and the same interval-union sweep, so a
    * missed span, a double-counted overlap, or an off-by-one in the
    * union arithmetic all hash-fail. */
  private val e2SubstringCov: Q = (s, dir) =>
    substringDupCoverage(t(s, dir, "documents"), "doc_id", "text",
      n = 8, minDocs = 2)

  /** E2i: substring-dedup TRIM — the apply step. Every token covered by
    * a cross-document duplicated `n`-gram window is removed from every
    * document and the survivors are re-joined in order (an aggressive
    * variant of Lee et al.'s span removal: ALL copies go, not all-but-
    * one — the right default for memorization-sensitive corpora, and
    * the deterministic one: no copy-election tie to break).
    *
    * Scale shape: covered positions come from exploding the merged
    * span stream — at most n rows per span before distinct(), a
    * constant n× fan-out, never tokens × spans; the token stream
    * left-anti joins it on (doc_id, pos) — a keyed shuffle join; the
    * rebuild is one per-doc sort_array over surviving tokens (bounded
    * by doc length, the same state any per-doc window holds). */
  def substringDedupTrim(docs: DataFrame, idCol: String,
      textCol: String, n: Int, minDocs: Int): DataFrame = {
    val base = tokenized(docs, idCol, textCol)
    val covered = dupNgramSpans(base, n, minDocs)
      .select(col("doc_id"), explode(sequence(col("s"), col("e"))).as("p"))
      .distinct()
    val tokens = base
      .select(col("doc_id"), posexplode(col("ws")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("p"),
        col("tok"))
    val kept = tokens.join(covered, Seq("doc_id", "p"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("p"), col("tok")))),
          _.getField("tok")), " ").as("trimmed"))
    base.select(col("doc_id"), col("nt").cast("long").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L)))
          .as("n_removed"),
        coalesce(col("trimmed"), lit("")).as("trimmed"))
      .orderBy(col("doc_id"))
  }

  /** E2i gate: trim with the e2_substring_cov parameters; DuckDB
    * rebuilds every trimmed document string (ordered string_agg over
    * the anti-joined token stream), so a surviving duplicated token, a
    * lost clean token, or an order scramble all hash-fail. */
  private val e2SubstringTrim: Q = (s, dir) =>
    substringDedupTrim(t(s, dir, "documents"), "doc_id", "text",
      n = 8, minDocs = 2)

  /** Per-anchor-digest occurrence cap for [[exactDupSpanPairs]] — ONE
    * constant, interpolated into the oracle SQL (the regex-constant
    * convention) so both engines cap the identical kept set. */
  val ExactSpanMaxOcc = 64

  /** EXACT maximal duplicated spans (Lee et al. 2022's exact match
    * discovery, suffix-array-free): every maximal cross-document
    * token run of length ≥ `minLen`, with its EXACT length — what the
    * fixed-n window pass cannot report (it marks n-sized windows; it
    * neither yields the maximal extent nor sees spans shorter than n).
    *
    * Method — anchor grams + diagonal runs, all keyed operations:
    *  1. anchor stream: sliding `minLen`-gram at every start (map-only
    *     explode, digest-keyed — the [[repeatedNgramSpans]] shuffle
    *     discipline);
    *  2. df filter: digests in ≥2 distinct docs (keyed agg) — every
    *     span of length ≥ minLen contains a duplicated anchor at each
    *     offset, so no true span escapes the filter;
    *  3. occurrence pairing: per-digest self-join (doc_a < doc_b);
    *     fanout is Σ occ² over duplicated anchors — true-duplicate
    *     mass, not corpus size (measured: 47k pairs at sf0.1) — and
    *     `maxOcc` ENFORCES the bound (the e8_contamination df-cap
    *     pattern): only the first `maxOcc` occurrences per digest
    *     (deterministic keep-first by (doc_id, s)) enter the join, so
    *     a degenerate corpus of many identical documents pays
    *     ≤ maxOcc²/2 pairs per digest instead of going quadratic,
    *     trading the tail of an extreme-duplication report for a
    *     hard bound;
    *  4. diagonal runs: pairs on one (doc_a, doc_b, sa−sb) diagonal at
    *     consecutive sa ARE one exact match (overlapping anchors pin
    *     every token); gaps-and-islands (sa − row_number per diagonal)
    *     groups them, min/max recover start and EXACT length. A longer
    *     match would put one more anchor on the diagonal, so runs are
    *     maximal in both directions by construction.
    * Output: top-`k` spans by length with the doc-a exemplar text, on
    * a collision-free total order. */
  def exactDupSpanPairs(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int, k: Int, maxOcc: Int = ExactSpanMaxOcc): DataFrame = {
    val base = tokenized(docs, idCol, textCol)
    val grams = base.filter(col("nt") >= minLen)
      .select(col("doc_id"),
        explode(sequence(lit(1), col("nt") - (minLen - 1))).as("s"),
        col("ws"))
      .select(col("doc_id"), col("s").cast("long").as("s"),
        sha2(array_join(slice(col("ws"), col("s"), lit(minLen)), " "), 256)
          .as("g"))
    val dup = grams.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select("g")
    val occ = grams.join(dup, Seq("g"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("g")).orderBy(col("doc_id"), col("s"))))
      .filter(col("rn") <= maxOcc).drop("rn")
    val pairs = occ.as("x").join(occ.as("y"),
        col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.s").as("sa"), col("y.s").as("sb"))
    val diag = pairs.withColumn("d", col("sa") - col("sb"))
    val grp = diag.withColumn("grp", col("sa") - row_number().over(
      Window.partitionBy(col("a"), col("b"), col("d")).orderBy(col("sa"))))
    val runs = grp.groupBy(col("a"), col("b"), col("d"), col("grp"))
      .agg(min(col("sa")).as("a_start"), min(col("sb")).as("b_start"),
        (max(col("sa")) - min(col("sa")) + minLen).as("len"))
    runs.join(base.select(col("doc_id").as("a"), col("ws")), Seq("a"))
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
        col("a_start"), col("b_start"), col("len"),
        array_join(slice(col("ws"), col("a_start").cast("int"),
          col("len").cast("int")), " ").as("span"))
      .orderBy(col("len").desc, col("doc_a"), col("doc_b"),
        col("a_start"), col("b_start"))
      .limit(k)
  }

  /** MinHash-LSH parameter PLANNER — the MMDS §3.4 S-curve sizing a
    * dedup pipeline runs BEFORE committing a band plan (the e2
    * family's own 4×16 / 8×8 band constants came from exactly this
    * table): for each (bands b, rows r) factorization of a K-hash
    * signature, a pair at Jaccard s collides with probability
    * 1 − (1 − s^r)^b, and the curve's inflection threshold is
    * ≈ (1/b)^(1/r). Reports each plan's threshold and its collision
    * probabilities just below/above the target, and recommends the
    * factorization whose threshold lands closest to the target.
    * Closed-form map-only arithmetic over a log₂K-row plan table —
    * the one ANN-family query whose oracle is FULLY value-level
    * (both engines evaluate the identical pow expressions). */
  def lshBandPlan(s: SparkSession, k: Int, theta: Double,
      sBelow: Double, sAbove: Double): DataFrame = {
    import s.implicits._
    val plans = (0 to 30).map(1 << _).filter(b => b <= k && k % b == 0)
      .map(b => (b, k / b))
    // sBelow/sAbove are EXPLICIT literals, not theta ± 0.1: the
    // subtraction lands on 0.7000000000000001 in doubles while the
    // oracle's SQL literal is exactly 0.7 — the engines must feed pow
    // the same bits.
    val df = plans.toDF("b", "r")
      .withColumn("threshold",
        round(pow(lit(1.0) / col("b"), lit(1.0) / col("r")), 6))
      .withColumn("p_below", round(lit(1.0) -
        pow(lit(1.0) - pow(lit(sBelow), col("r")), col("b")), 6))
      .withColumn("p_above", round(lit(1.0) -
        pow(lit(1.0) - pow(lit(sAbove), col("r")), col("b")), 6))
      .withColumn("dist", abs(col("threshold") - lit(theta)))
    df.crossJoin(df.agg(min(col("dist")).as("best")))
      .select(col("b"), col("r"), col("threshold"),
        col("p_below"), col("p_above"),
        (col("dist") === col("best")).as("recommended"))
      .orderBy(col("b"))
  }

  /** E2k: the band plan for the repo's own K=64 signatures at target
    * θ = 0.8 — full value oracle (DuckDB restates every pow). */
  private val e2LshPlan: Q = (s, dir) =>
    lshBandPlan(s, 64, 0.8, sBelow = 0.7, sAbove = 0.9)

  /** Planted fixtures for the exact-span gate, mirrored in the oracle:
    * a 23-token span shared by two synthetic docs at different offsets
    * (the window pass marks it but cannot report "exactly 23") and a
    * 7-TOKEN span (shorter than the 8-gram window — invisible to the
    * e2_substring_cov/trim pass) that exact discovery at minLen=6 must
    * recover at exactly 7. Tokens are zq-prefixed so they cannot
    * collide with corpus text. */
  /** ONE source of truth for the planted texts — the Spark plant and
    * the DuckDB oracle both interpolate these (the regex-constant
    * convention). */
  private[ext] val plantedSpanDocs: Seq[(Long, String)] = {
    val span23 = (1 to 23).map(i => s"zqspan$i").mkString(" ")
    val span7 = (1 to 7).map(i => s"zqshort$i").mkString(" ")
    Seq(
      (900001L, s"zqa1 zqa2 zqa3 $span23 zqa4 zqa5"),
      (900002L, s"zqb1 $span23 zqb2 zqb3 zqb4 zqb5 zqb6"),
      (900003L, s"zqc1 zqc2 $span7 zqc3"),
      (900004L, s"zqd1 $span7 zqd2 zqd3"))
  }

  private[ext] def withPlantedSpans(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select(col("doc_id"), col("text"))
      .unionByName(plantedSpanDocs.toDF("doc_id", "text"))
  }

  /** E2j gate: exact maximal duplicated spans at minLen=6 over the
    * corpus plus the planted fixtures. Full value oracle — DuckDB
    * re-derives the anchors, the pairing, the diagonal runs, and each
    * span's exemplar text, so a wrong maximal extent, a missed short
    * span, or an off-diagonal merge all hash-fail. */
  private val e2SubstringExact: Q = (s, dir) =>
    exactDupSpanPairs(withPlantedSpans(t(s, dir, "documents")),
      "doc_id", "text", minLen = 6, k = 40)

  // ------------------------------- content-defined chunking (CDC)

  /** Content-defined chunking at word granularity — the LBFS/rsync
    * boundary trick (Muthitacharoen et al., SOSP'01) that fixed-size
    * blocking lacks: a chunk ends after any word whose digest prefix
    * lands in a fixed 1/4 slice of the hash space, so boundaries are
    * determined by CONTENT, and inserting or deleting words early in a
    * document only perturbs chunks up to the next boundary — every
    * later chunk digest is unchanged (the shift-robust counterpart of
    * `e2_repeated_ngrams`' aligned grams; spec-pinned). Dataflow:
    * map-only word explode, one per-doc window for the running
    * boundary count (bounded by document length — the same per-doc
    * window discipline as the substring family), then a digest-keyed
    * hash aggregation whose shuffle key is the 64-hex sha256, never
    * chunk text. Returns (doc_id, cb, chunk_text, digest). */
  def cdcChunks(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val words = Tables.spread(docs.select(col(idCol), col(textCol)))
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), " ")).as(Seq("pos", "w")))
      .filter(col("w") =!= "")
    val isB = substring(sha2(col("w"), 256), 1, 1)
      .isin("0", "4", "8", "c")
    val wWin = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // chunk id = boundaries strictly BEFORE this word (the boundary
    // word is the LAST word of its chunk)
    val chunks = words.withColumn("b", when(isB, 1).otherwise(0))
      .withColumn("cb", sum(col("b")).over(wWin) - col("b"))
    chunks.groupBy(col("doc_id"), col("cb"))
      .agg(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("pos"), col("w")))),
          _.getField("w"))).as("chunk_text"))
      .withColumn("digest", sha2(col("chunk_text"), 256))
  }

  /** E2j gate: cross-document duplicated CDC chunks — digests seen in
    * ≥ 2 documents with occurrence/document counts and the chunk text.
    * DuckDB re-derives every boundary, chunk, and digest, so a chunk
    * split one word early or a lost occurrence hash-fails. */
  private val e2CdcChunks: Q = (s, dir) => {
    // Counts aggregate on the 64-hex digest alone (hash aggregate,
    // fixed-width shuffle key — a `min(text)` exemplar would force a
    // SortAggregate over chunk strings); exemplar text is recovered
    // from the chunk stream ONLY for winning digests, the
    // e2_repeated_ngrams discipline.
    val chunks = cdcChunks(t(s, dir, "documents"), "doc_id", "text")
      .localCheckpoint(eager = false) // one chunking, two consumers
    val dup = chunks.groupBy(col("digest"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_docs") >= 2)
    val exemplar = chunks
      .join(dup.select(col("digest")), Seq("digest"), "left_semi")
      .select(col("digest"), col("chunk_text")).distinct()
    dup.join(exemplar, Seq("digest"))
      .select(col("digest"), col("n_docs"), col("n_occ"),
        col("chunk_text"))
      .orderBy(col("digest"))
  }

  // ----------------------------------- Fellegi–Sunter record linkage

  /** Field weights for [[e13Linkage]]: log-likelihood ratios
    * ln(m/u) on agreement and ln((1−m)/(1−u)) on disagreement, from
    * FIXED (m, u) priors — deterministic, no EM pass. Computed ONCE in
    * Scala and interpolated verbatim into both engines (the shortest-
    * round-trip `Double.toString` literal parses back to the identical
    * double), so the additive score is bit-equal on both sides. */
  private[graft] val fsWeights: Seq[(Double, Double)] = {
    def w(m: Double, u: Double): (Double, Double) =
      (math.log(m / u), math.log((1 - m) / (1 - u)))
    // (m, u) per field: name exact, nation equal, segment equal,
    // balance within ±0.005 — priors match the planted corruption
    // rates (1/3, 1/7, 1/5, 1/2) roughly; FS only needs them ordinal.
    Seq(w(0.667, 0.0001), w(0.857, 0.04), w(0.8, 0.2), w(0.5, 0.01))
  }

  /** E13: Fellegi–Sunter probabilistic record linkage (Fellegi &
    * Sunter, JASA 1969) — the multi-field ER decision model on top of
    * blocked candidates: each candidate pair gets an additive
    * log-likelihood score Σᵢ wᵢ(γᵢ) over per-field agreement patterns
    * (name exact, nation equal, segment equal, balance within ±0.005),
    * classified link / possible / non-link by two thresholds — the
    * classic three-way decision rule. Candidates come from blocking on
    * the fastest-varying stable name substring (`substring(c_name, 16,
    * 3)` — the last three digits of the zero-padded id, untouched by
    * the planted suffix corruption), a plain equi-join whose ~1000
    * near-uniform blocks keep enumeration linear — at 100 TB the same
    * scorer sits behind hierarchical blocking or the LSH candidate
    * generators in this file. The "dirty" B side is the customer table
    * under deterministic key-derived corruption (both engines
    * reproduce it exactly): every third name gains a suffix, every
    * seventh nation shifts, every fifth segment is reversed, every
    * second balance drifts +0.01. The gate rolls up per decision class
    * with true-pair counts and key checksums; the oracle restates the
    * whole model in SQL from the SAME interpolated weight literals. */
  private val e13Linkage: Q = (s, dir) => {
    val cust = t(s, dir, "customer")
    val a = cust.select(col("c_custkey").as("ak"),
      col("c_name").as("aname"), col("c_nationkey").as("anat"),
      col("c_mktsegment").as("aseg"), col("c_acctbal").as("abal"),
      substring(col("c_name"), 16, 3).as("blk"))
    val b = cust.select(col("c_custkey").as("bk"),
      when(col("c_custkey") % 3 === 0, concat(col("c_name"), lit("X")))
        .otherwise(col("c_name")).as("bname"),
      when(col("c_custkey") % 7 === 0, col("c_nationkey") + 1)
        .otherwise(col("c_nationkey")).as("bnat"),
      when(col("c_custkey") % 5 === 0, reverse(col("c_mktsegment")))
        .otherwise(col("c_mktsegment")).as("bseg"),
      when(col("c_custkey") % 2 === 0, col("c_acctbal") + lit(0.01))
        .otherwise(col("c_acctbal")).as("bbal"),
      substring(col("c_name"), 16, 3).as("blk"))
    val Seq((nA, nD), (tA, tD), (sA, sD), (bA, bD)) = fsWeights
    val score =
      when(col("aname") === col("bname"), lit(nA)).otherwise(lit(nD)) +
        when(col("anat") === col("bnat"), lit(tA)).otherwise(lit(tD)) +
        when(col("aseg") === col("bseg"), lit(sA)).otherwise(lit(sD)) +
        when(abs(col("abal") - col("bbal")) <= lit(0.005), lit(bA))
          .otherwise(lit(bD))
    a.join(b, Seq("blk"))
      .withColumn("score", score)
      .withColumn("decision",
        when(col("score") >= 4.0, "link")
          .when(col("score") >= 0.0, "possible")
          .otherwise("non_link"))
      .groupBy(col("decision"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("ak") === col("bk"), 1L).otherwise(0L)).as("n_true"),
        sum(col("ak") + col("bk")).as("sum_keys"),
        round(sum(round(col("score"), 6)), 4).as("sum_score"))
      .orderBy(col("decision"))
  }

  /** E13b: BLOCKING-QUALITY metrics — the two numbers every
    * entity-resolution survey reports for a candidate generator
    * (Christen, TKDE 2012): reduction ratio RR = 1 − |candidates|/n²
    * (how much of the quadratic pair space the blocking avoids) and
    * pairs completeness PC = |true ∩ candidates|/|true| (how much
    * recall it kept). Evaluated for TWO schemes over e13's corrupted
    * customer pair: the name-substring block (key untouched by the
    * corruption → PC = 1) and a nation block (every 7th B-side nation
    * shifted → its true pairs leave the block, PC < 1) — so the
    * metric separates a good scheme from a leaky one on the same
    * data. Counts come from the blocking equi-joins themselves plus
    * one-row totals crossJoined on (the gate-scalar pattern); the
    * oracle re-derives both schemes' joins and the closed-form RR/PC
    * arithmetic. */
  /** E13c: SURVIVORSHIP — the golden-record step after linkage: each
    * logical entity arrives as three source variants (deterministic
    * perturbations of customer: nulled segments, renamed, repriced,
    * overlapping freshness timestamps) and one record survives per
    * attribute by rule: name = LATEST WINS (max by (ts, src, name) —
    * struct max, ties exercised by overlapping ts and broken by the
    * source tag), segment = MOST FREQUENT non-null (tie → smallest
    * value), balance = MAX. Two doc-keyed aggregations + one join —
    * the MDM merge shape, linear in records. */
  private val e13cGoldenRecord: Q = (s, dir) => {
    val cust = t(s, dir, "customer").filter(col("c_custkey") % 5 === 0)
    val k = col("c_custkey")
    def v(src: String, name: Column, seg: Column, bal: Column,
        ts: Column) =
      cust.select(k.as("key"), lit(src).as("src"), name.as("name"),
        seg.as("seg"), round(bal, 2).as("bal"), ts.cast("long").as("ts"))
    val values =
      v("a", col("c_name"),
        when(k % 4 === 0, lit(null).cast("string"))
          .otherwise(col("c_mktsegment")),
        col("c_acctbal"), lit(100) + (k % 7) * 20)
      .unionByName(v("b",
        when(k % 3 === 0, upper(col("c_name"))).otherwise(col("c_name")),
        col("c_mktsegment"), col("c_acctbal") + 0.10,
        lit(150) + (k % 5) * 20))
      .unionByName(v("c", concat(col("c_name"), lit("-c")),
        when(k % 2 === 0, reverse(col("c_mktsegment")))
          .otherwise(col("c_mktsegment")),
        col("c_acctbal") - 0.05, lit(180)))
      .localCheckpoint(eager = false)
    val latest = values.groupBy(col("key")).agg(
      max(struct(col("ts"), col("src"), col("name"))).as("w"),
      max(col("bal")).as("golden_bal"),
      sum(when(col("seg").isNotNull, 1L).otherwise(0L))
        .as("n_seg_sources"))
      .select(col("key"), col("w").getField("name").as("golden_name"),
        col("w").getField("src").as("latest_src"),
        col("golden_bal"), col("n_seg_sources"))
    val segW = Window.partitionBy(col("key"))
      .orderBy(col("votes").desc, col("seg"))
    val mode = values.filter(col("seg").isNotNull)
      .groupBy(col("key"), col("seg")).agg(count(lit(1)).as("votes"))
      .withColumn("rn", row_number().over(segW))
      .filter(col("rn") === 1)
      .select(col("key"), col("seg").as("golden_seg"))
    latest.join(mode, Seq("key"))
      .select(col("key"), col("golden_name"), col("latest_src"),
        col("golden_seg"), col("golden_bal"), col("n_seg_sources"))
      .orderBy(col("key"))
  }

  private val e13bBlockingMetrics: Q = (s, dir) => {
    val cust = t(s, dir, "customer")
    val a = cust.select(col("c_custkey").as("ak"),
      substring(col("c_name"), 16, 3).as("ablk"),
      col("c_nationkey").as("anat"))
    val b = cust.select(col("c_custkey").as("bk"),
      substring(col("c_name"), 16, 3).as("bblk"),
      when(col("c_custkey") % 7 === 0, col("c_nationkey") + 1)
        .otherwise(col("c_nationkey")).as("bnat"))
    val tot = a.agg(count(lit(1)).as("n_records"))
    def scheme(label: String, cond: Column): DataFrame = {
      val cand = a.join(b, cond)
        .agg(count(lit(1)).as("cand_pairs"),
          sum(when(col("ak") === col("bk"), 1L).otherwise(0L))
            .as("true_in_cand"))
      tot.crossJoin(cand).select(lit(label).as("scheme"),
        col("n_records"), col("cand_pairs"), col("true_in_cand"),
        round(lit(1.0) - col("cand_pairs").cast("double") /
          (col("n_records") * col("n_records")), 6).as("rr"),
        round(col("true_in_cand").cast("double") / col("n_records"), 6)
          .as("pc"))
    }
    scheme("name_block", col("ablk") === col("bblk"))
      .unionByName(scheme("nation_block", col("anat") === col("bnat")))
      .orderBy(col("scheme"))
  }

  // ------------------------------------------------------- line dedup

  /** The boilerplate lines the gate plants (shared verbatim with the
    * oracle): the first on EVERY doc, the second on every 3rd. */
  val BoilerSubscribe =
    "subscribe to our newsletter and click here to unsubscribe today"
  val BoilerCopyright = "copyright acme corp all rights reserved"

  /** Newline-structured corpus with planted boilerplate: every doc
    * carries the subscribe footer, every 3rd additionally a copyright
    * line, and every 10th doc is duplicated wholesale under
    * doc_id + 100000 (so its unique body line dups too). `concat_ws`
    * skips the NULL third line on both engines. */
  private[ext] def withPlantedLines(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("lang"),
      concat_ws("\n", col("text"), lit(BoilerSubscribe),
        when(col("doc_id") % 3 === 0, lit(BoilerCopyright))
          .otherwise(lit(null).cast("string"))).as("text"))
    base.unionAll(base.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("lang"),
        col("text")))
  }

  /** E2i: corpus-level exact LINE dedup — the RefinedWeb/CCNet pass
    * that strips boilerplate (nav bars, subscribe footers, copyright
    * lines) repeated verbatim across pages: every line instance is
    * kept iff it is the FIRST occurrence of its text corpus-wide
    * (minimal (doc_id, line_no)). Shuffle key is the line's sha2-256
    * digest — fixed width regardless of line length, the exact-dedup
    * convention — and each digest partition holds one line's
    * instances, so the window never sorts more than a duplicate
    * family. Map-only explode before it, one rollup after: linear at
    * 100 TB. The rollup value-checks which instances were removed
    * (checksum over removed (doc_id, line_no)), how many docs were
    * touched, and the surviving character mass, all per language. */
  def lineDedupStats(docs: DataFrame, idCol: String, langCol: String,
      textCol: String): DataFrame = {
    val lines = Tables.spread(
        docs.select(col(idCol), col(langCol), col(textCol)))
      .select(col(idCol).as("doc_id"), col(langCol).as("lang"),
        posexplode(split(col(textCol), "\n")).as(Seq("line_no", "line")))
      .filter(col("line") =!= "")
    val w = Window.partitionBy(sha2(col("line"), 256))
      .orderBy(col("doc_id"), col("line_no"))
    lines.withColumn("rn", row_number().over(w))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        countDistinct(when(col("rn") > 1, col("doc_id")))
          .as("n_docs_affected"),
        sum(when(col("rn") > 1,
          col("doc_id") * (col("line_no") + 1)).otherwise(0L))
          .as("removed_checksum"),
        sum(when(col("rn") === 1, length(col("line")).cast("long"))
          .otherwise(0L)).as("kept_chars"))
      .orderBy(col("lang"))
  }

  private val e2LineDedup: Q = (s, dir) =>
    lineDedupStats(withPlantedLines(t(s, dir, "documents")),
      "doc_id", "lang", "text")

  /** Each query with its oracle: the planted-pair ground truth, written
    * directly in SQL. */
  val queries: Seq[Query] = Seq(
    // Both schemes' candidate joins re-derived, RR/PC restated from
    // the same integer counts with identical double arithmetic.
    Query("e13b_blocking_metrics", e13bBlockingMetrics,
      """WITH a AS (
        |  SELECT c_custkey AS ak, substring(c_name, 16, 3) AS ablk,
        |    c_nationkey AS anat
        |  FROM customer),
        |b AS (
        |  SELECT c_custkey AS bk, substring(c_name, 16, 3) AS bblk,
        |    CASE WHEN c_custkey % 7 = 0 THEN c_nationkey + 1
        |         ELSE c_nationkey END AS bnat
        |  FROM customer),
        |n AS (SELECT count(*)::BIGINT AS n_records FROM a),
        |nameb AS (
        |  SELECT count(*)::BIGINT AS cand_pairs,
        |    sum(CASE WHEN ak = bk THEN 1 ELSE 0 END)::BIGINT
        |      AS true_in_cand
        |  FROM a JOIN b ON a.ablk = b.bblk),
        |natb AS (
        |  SELECT count(*)::BIGINT AS cand_pairs,
        |    sum(CASE WHEN ak = bk THEN 1 ELSE 0 END)::BIGINT
        |      AS true_in_cand
        |  FROM a JOIN b ON a.anat = b.bnat)
        |SELECT * FROM (
        |  SELECT 'name_block' AS scheme, n_records, cand_pairs,
        |    true_in_cand,
        |    round(1.0 - cand_pairs::DOUBLE / (n_records * n_records), 6)
        |      AS rr,
        |    round(true_in_cand::DOUBLE / n_records, 6) AS pc
        |  FROM n, nameb
        |  UNION ALL
        |  SELECT 'nation_block', n_records, cand_pairs, true_in_cand,
        |    round(1.0 - cand_pairs::DOUBLE / (n_records * n_records), 6),
        |    round(true_in_cand::DOUBLE / n_records, 6)
        |  FROM n, natb
        |) ORDER BY scheme""".stripMargin),
    // Full restatement: DuckDB replants the same newline corpus
    // (concat_ws skips the NULL third line identically), re-derives
    // every (doc, line_no, line) instance, and applies the same
    // global keep-first rule.
    Query("e2_line_dedup", e2LineDedup,
      s"""WITH base AS (
         |  SELECT doc_id, lang,
         |    concat_ws(chr(10), text, '$BoilerSubscribe',
         |      CASE WHEN doc_id % 3 = 0 THEN '$BoilerCopyright'
         |           ELSE NULL END) AS text
         |  FROM documents),
         |planted AS (
         |  SELECT * FROM base
         |  UNION ALL
         |  SELECT doc_id + 100000, lang, text FROM base
         |  WHERE doc_id % 10 = 0),
         |lines AS (
         |  SELECT doc_id, lang, i - 1 AS line_no, ls[i] AS line
         |  FROM (SELECT doc_id, lang, string_split(text, chr(10)) AS ls
         |        FROM planted),
         |    unnest(range(1, len(ls) + 1)) AS t(i)
         |  WHERE ls[i] <> ''),
         |r AS (
         |  SELECT lang, doc_id, line_no, line,
         |    row_number() OVER (PARTITION BY line
         |      ORDER BY doc_id, line_no) AS rn
         |  FROM lines)
         |SELECT lang, count(*)::BIGINT AS n_lines,
         |  sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
         |  count(DISTINCT CASE WHEN rn > 1 THEN doc_id END)::BIGINT
         |    AS n_docs_affected,
         |  sum(CASE WHEN rn > 1 THEN doc_id * (line_no + 1)
         |      ELSE 0 END)::BIGINT AS removed_checksum,
         |  sum(CASE WHEN rn = 1 THEN length(line) ELSE 0 END)::BIGINT
         |    AS kept_chars
         |FROM r GROUP BY lang ORDER BY lang""".stripMargin),
    Query("e2_cdc_chunks", e2CdcChunks,
      """WITH w AS (
        |  SELECT doc_id, i AS pos, ws[i] AS w
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws
        |        FROM documents),
        |    unnest(range(1, len(ws) + 1)) AS t(i)
        |  WHERE ws[i] <> ''),
        |b AS (
        |  SELECT doc_id, pos, w,
        |    CASE WHEN substr(sha256(w), 1, 1) IN ('0','4','8','c')
        |         THEN 1 ELSE 0 END AS bd
        |  FROM w),
        |c AS (
        |  SELECT doc_id, pos, w,
        |    sum(bd) OVER (PARTITION BY doc_id ORDER BY pos) - bd AS cb
        |  FROM b),
        |ch AS (
        |  SELECT doc_id, cb,
        |    string_agg(w, ' ' ORDER BY pos) AS chunk_text
        |  FROM c GROUP BY doc_id, cb),
        |d AS (
        |  SELECT sha256(chunk_text) AS digest, chunk_text,
        |    count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
        |  FROM ch GROUP BY digest, chunk_text)
        |SELECT digest, n_docs::BIGINT AS n_docs, n_occ::BIGINT AS n_occ,
        |  chunk_text
        |FROM d WHERE n_docs >= 2 ORDER BY digest""".stripMargin),
    Query("e13_linkage", e13Linkage, {
      val Seq((nA, nD), (tA, tD), (sA, sD), (bA, bD)) = fsWeights
      def L(d: Double) = java.lang.Double.toString(d)
      s"""WITH a AS (
         |  SELECT c_custkey AS ak, c_name AS aname,
         |    c_nationkey AS anat, c_mktsegment AS aseg,
         |    c_acctbal AS abal, substring(c_name, 16, 3) AS blk
         |  FROM customer),
         |b AS (
         |  SELECT c_custkey AS bk,
         |    CASE WHEN c_custkey % 3 = 0 THEN c_name || 'X'
         |         ELSE c_name END AS bname,
         |    CASE WHEN c_custkey % 7 = 0 THEN c_nationkey + 1
         |         ELSE c_nationkey END AS bnat,
         |    CASE WHEN c_custkey % 5 = 0 THEN reverse(c_mktsegment)
         |         ELSE c_mktsegment END AS bseg,
         |    CASE WHEN c_custkey % 2 = 0 THEN c_acctbal + 0.01
         |         ELSE c_acctbal END AS bbal,
         |    substring(c_name, 16, 3) AS blk
         |  FROM customer),
         |p AS (
         |  SELECT ak, bk,
         |    (CASE WHEN aname = bname THEN ${L(nA)} ELSE ${L(nD)} END
         |     + CASE WHEN anat = bnat THEN ${L(tA)} ELSE ${L(tD)} END
         |     + CASE WHEN aseg = bseg THEN ${L(sA)} ELSE ${L(sD)} END
         |     + CASE WHEN abs(abal - bbal) <= 0.005 THEN ${L(bA)}
         |            ELSE ${L(bD)} END) AS score
         |  FROM a JOIN b USING (blk)),
         |d AS (
         |  SELECT ak, bk, score,
         |    CASE WHEN score >= 4.0 THEN 'link'
         |         WHEN score >= 0.0 THEN 'possible'
         |         ELSE 'non_link' END AS decision
         |  FROM p)
         |SELECT decision, count(*)::BIGINT AS n_pairs,
         |  sum(CASE WHEN ak = bk THEN 1 ELSE 0 END)::BIGINT AS n_true,
         |  sum(ak + bk)::BIGINT AS sum_keys,
         |  round(sum(round(score, 6)), 4) AS sum_score
         |FROM d GROUP BY decision ORDER BY decision""".stripMargin
    }),
    Query("e2_substring_trim", e2SubstringTrim,
      """WITH b AS (
        |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens,
        |    string_split(text, ' ') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, i::BIGINT AS s,
        |    sha256(array_to_string(list_slice(ws, i, i + 7), ' ')) AS gram_sha
        |  FROM b, unnest(range(1, n_tokens - 6)) AS t(i)
        |  WHERE n_tokens >= 8),
        |d AS (
        |  SELECT gram_sha FROM g
        |  GROUP BY gram_sha HAVING count(DISTINCT doc_id) >= 2),
        |sp AS (
        |  SELECT DISTINCT g.doc_id, g.s, g.s + 7 AS e
        |  FROM g JOIN d USING (gram_sha)),
        |cov AS (
        |  SELECT DISTINCT doc_id, p
        |  FROM sp, unnest(range(s, e + 1)) AS u(p)),
        |tok AS (
        |  SELECT doc_id, p::BIGINT AS p, ws[p::INT] AS tok
        |  FROM b, unnest(range(1, n_tokens + 1)) AS u(p)),
        |kept AS (
        |  SELECT t.doc_id, count(*)::BIGINT AS n_kept,
        |    string_agg(t.tok, ' ' ORDER BY t.p) AS trimmed
        |  FROM tok t
        |  WHERE NOT EXISTS (SELECT 1 FROM cov c
        |                    WHERE c.doc_id = t.doc_id AND c.p = t.p)
        |  GROUP BY t.doc_id)
        |SELECT b.doc_id, b.n_tokens,
        |  coalesce(k.n_kept, 0)::BIGINT AS n_kept,
        |  (b.n_tokens - coalesce(k.n_kept, 0))::BIGINT AS n_removed,
        |  coalesce(k.trimmed, '') AS trimmed
        |FROM b LEFT JOIN kept k USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin),
    Query("e2_substring_cov", e2SubstringCov,
      """WITH b AS (
        |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens,
        |    string_split(text, ' ') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, i::BIGINT AS s,
        |    sha256(array_to_string(list_slice(ws, i, i + 7), ' ')) AS gram_sha
        |  FROM b, unnest(range(1, n_tokens - 6)) AS t(i)
        |  WHERE n_tokens >= 8),
        |d AS (
        |  SELECT gram_sha FROM g
        |  GROUP BY gram_sha HAVING count(DISTINCT doc_id) >= 2),
        |sp AS (
        |  SELECT DISTINCT g.doc_id, g.s, g.s + 7 AS e
        |  FROM g JOIN d USING (gram_sha)),
        |m AS (
        |  SELECT doc_id, s, e,
        |    max(e) OVER (PARTITION BY doc_id ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM sp),
        |c AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_dup_spans,
        |    sum(greatest(0, e - greatest(s - 1, coalesce(pm, 0))))::BIGINT
        |      AS dup_tokens
        |  FROM m GROUP BY doc_id)
        |SELECT b.doc_id, b.n_tokens,
        |  coalesce(c.n_dup_spans, 0)::BIGINT AS n_dup_spans,
        |  coalesce(c.dup_tokens, 0)::BIGINT AS dup_tokens,
        |  round(coalesce(c.dup_tokens, 0) / b.n_tokens, 4) AS dup_frac
        |FROM b LEFT JOIN c USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin),
    // The S-curve planner restated: identical pow expressions over the
    // same 7-row factorization table, recommendation re-derived.
    Query("e2_lsh_plan", e2LshPlan,
      """WITH plans(b, r) AS (
        |  VALUES (1, 64), (2, 32), (4, 16), (8, 8), (16, 4), (32, 2),
        |    (64, 1)),
        |t AS (
        |  SELECT b, r,
        |    round(pow(1.0 / b, 1.0 / r), 6) AS threshold,
        |    round(1.0 - pow(1.0 - pow(0.7, r), b), 6) AS p_below,
        |    round(1.0 - pow(1.0 - pow(0.9, r), b), 6) AS p_above,
        |    abs(round(pow(1.0 / b, 1.0 / r), 6) - 0.8) AS dist
        |  FROM plans)
        |SELECT b, r, threshold, p_below, p_above,
        |  (dist = (SELECT min(dist) FROM t)) AS recommended
        |FROM t ORDER BY b""".stripMargin),
    // Exact maximal duplicated spans: DuckDB re-derives the sliding
    // 6-gram anchors, the ≥2-distinct-doc filter, the occurrence
    // pairing, the diagonal gaps-and-islands runs, and every span's
    // doc-a exemplar text — plant included via the shared constant.
    Query("e2_substring_exact", e2SubstringExact, {
      val plantedSql = plantedSpanDocs.map { case (id, txt) =>
        s"SELECT $id AS doc_id, '$txt' AS text"
      }.mkString(" UNION ALL ")
      s"""WITH p AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL $plantedSql),
         |b AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws,
         |    len(string_split(text, ' '))::BIGINT AS nt
         |  FROM p),
         |g AS (
         |  SELECT doc_id, i::BIGINT AS s,
         |    array_to_string(list_slice(ws, i, i + 5), ' ') AS gram
         |  FROM b, unnest(range(1, nt - 4)) AS t(i)
         |  WHERE nt >= 6),
         |d AS (
         |  SELECT gram FROM g
         |  GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
         |o AS MATERIALIZED (
         |  SELECT doc_id, s, gram FROM (
         |    SELECT g.*, row_number() OVER (
         |      PARTITION BY gram ORDER BY doc_id, s) AS rn
         |    FROM g JOIN d USING (gram))
         |  WHERE rn <= $ExactSpanMaxOcc),
         |pr AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b, x.s AS sa, y.s AS sb
         |  FROM o x JOIN o y
         |    ON x.gram = y.gram AND x.doc_id < y.doc_id),
         |r AS (
         |  SELECT a, b, sa, sb, sa - sb AS dg,
         |    sa - row_number() OVER (
         |      PARTITION BY a, b, sa - sb ORDER BY sa) AS grp
         |  FROM pr),
         |runs AS (
         |  SELECT a, b, min(sa) AS a_start, min(sb) AS b_start,
         |    (max(sa) - min(sa) + 6)::BIGINT AS len
         |  FROM r GROUP BY a, b, dg, grp)
         |SELECT runs.a AS doc_a, runs.b AS doc_b, a_start, b_start, len,
         |  array_to_string(list_slice(bb.ws, a_start::INT,
         |    (a_start + len - 1)::INT), ' ') AS span
         |FROM runs JOIN b bb ON bb.doc_id = runs.a
         |ORDER BY len DESC, doc_a, doc_b, a_start, b_start
         |LIMIT 40""".stripMargin
    }),
    Query("e2_repeated_ngrams", e2RepeatedNgrams,
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |  WHERE len(string_split(text, ' ')) >= 8),
        |g AS (
        |  SELECT doc_id,
        |    array_to_string(list_slice(ws, i, i + 7), ' ') AS gram
        |  FROM w, unnest(range(1, len(ws) - 6)) AS t(i)),
        |c AS (
        |  SELECT sha256(gram) AS gram_sha,
        |    count(DISTINCT doc_id)::BIGINT AS n_docs,
        |    count(*)::BIGINT AS n_occ, min(gram) AS gram
        |  FROM g GROUP BY sha256(gram))
        |SELECT gram_sha, n_docs, n_occ, gram FROM c
        |WHERE n_docs >= 2
        |ORDER BY n_docs DESC, n_occ DESC, gram_sha LIMIT 40""".stripMargin),
    Query("e1b_normalized_dedup", e1bNormalizedDedup,
      s"""WITH planted AS (
         |  SELECT doc_id, lang, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 300000, lang, upper(text) FROM documents
         |  WHERE doc_id % 8 = 0
         |  UNION ALL
         |  SELECT doc_id + 400000, lang, '  ' || text || '!!  '
         |  FROM documents WHERE doc_id % 12 = 0),
         |norm AS (
         |  SELECT doc_id, lang,
         |    trim(regexp_replace(regexp_replace(lower(text),
         |      '$StripRe', '', 'g'), '$SpaceRe', ' ', 'g')) AS n
         |  FROM planted),
         |kept AS (
         |  SELECT lang, doc_id FROM (
         |    SELECT lang, doc_id,
         |      row_number() OVER (PARTITION BY n ORDER BY doc_id) AS rn
         |    FROM norm)
         |  WHERE rn = 1)
         |SELECT p.lang, p.n_in, p.n_raw_distinct, k.n_norm_kept,
         |  k.sum_kept_ids
         |FROM (SELECT lang, count(*)::BIGINT AS n_in,
         |        count(DISTINCT text)::BIGINT AS n_raw_distinct
         |      FROM planted GROUP BY lang) p
         |JOIN (SELECT lang, count(*)::BIGINT AS n_norm_kept,
         |        sum(doc_id)::BIGINT AS sum_kept_ids
         |      FROM kept GROUP BY lang) k USING (lang)
         |ORDER BY lang""".stripMargin),
    Query("e1_dedup_exact", e1DedupExact,
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies FROM (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000, text || ' zzduplicate' FROM documents
        |  WHERE doc_id % 20 = 0
        |) GROUP BY text ORDER BY doc_id""".stripMargin),
    // Exact all-pairs 3-word-shingle Jaccard, mirroring Dedup.shingles
    // exactly (i in 1..len-2, space-joined, distinct set; docs shorter
    // than 3 words yield NO shingles on either engine).
    Query("e2_minhash_neardup", e2MinhashNearDup,
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(string_split(text,' ')) - 2, 0) + 1),
        |      i -> string_split(text,' ')[i] || ' ' ||
        |           string_split(text,' ')[i+1] || ' ' ||
        |           string_split(text,' ')[i+2])) AS s
        |  FROM documents)
        |SELECT a.doc_id AS a, b.doc_id AS b,
        |  round(len(list_intersect(a.s, b.s))::DOUBLE
        |    / len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
        |FROM sh a, sh b
        |WHERE a.doc_id < b.doc_id
        |  AND len(list_intersect(a.s, b.s))::DOUBLE
        |    / len(list_distinct(list_concat(a.s, b.s))) >= 0.8
        |ORDER BY a, b""".stripMargin),
    // Exact all-pairs 3-word-shingle Jaccard — the prefix-filter path
    // must reproduce it bit for bit.
    // Same variants, same rules: latest = row_number over (ts DESC,
    // src DESC, name DESC) = 1 (the struct-max order), mode = votes
    // DESC then value ASC, balance = max of the same rounded values.
    Query("e13c_golden_record", e13cGoldenRecord,
      """WITH c AS (SELECT * FROM customer WHERE c_custkey % 5 = 0),
        |vals AS (
        |  SELECT c_custkey AS key, 'a' AS src, c_name AS name,
        |    CASE WHEN c_custkey % 4 = 0 THEN NULL
        |         ELSE c_mktsegment END AS seg,
        |    round(c_acctbal, 2) AS bal,
        |    (100 + (c_custkey % 7) * 20)::BIGINT AS ts
        |  FROM c
        |  UNION ALL
        |  SELECT c_custkey, 'b',
        |    CASE WHEN c_custkey % 3 = 0 THEN upper(c_name)
        |         ELSE c_name END,
        |    c_mktsegment, round(c_acctbal + 0.10, 2),
        |    (150 + (c_custkey % 5) * 20)::BIGINT
        |  FROM c
        |  UNION ALL
        |  SELECT c_custkey, 'c', c_name || '-c',
        |    CASE WHEN c_custkey % 2 = 0 THEN reverse(c_mktsegment)
        |         ELSE c_mktsegment END,
        |    round(c_acctbal - 0.05, 2), 180::BIGINT
        |  FROM c),
        |latest AS (
        |  SELECT key, name AS golden_name, src AS latest_src FROM (
        |    SELECT key, name, src,
        |      row_number() OVER (PARTITION BY key
        |        ORDER BY ts DESC, src DESC, name DESC) AS rn
        |    FROM vals) x WHERE rn = 1),
        |aggs AS (
        |  SELECT key, max(bal) AS golden_bal,
        |    sum(CASE WHEN seg IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
        |      AS n_seg_sources
        |  FROM vals GROUP BY key),
        |mode AS (
        |  SELECT key, seg AS golden_seg FROM (
        |    SELECT key, seg,
        |      row_number() OVER (PARTITION BY key
        |        ORDER BY count(*) DESC, seg) AS rn
        |    FROM vals WHERE seg IS NOT NULL GROUP BY key, seg) x
        |  WHERE rn = 1)
        |SELECT l.key, l.golden_name, l.latest_src, m.golden_seg,
        |  a.golden_bal, a.n_seg_sources
        |FROM latest l JOIN aggs a USING (key) JOIN mode m USING (key)
        |ORDER BY l.key""".stripMargin),
    // Token-join restatement over corpus + the same plants (pairs via
    // shared-shingle GROUP BY — Σ df² rows, ~3M at sf0.1, where the
    // all-pairs list-intersect form ran past 10 min); the integer
    // threshold (5·shared ≥ 4·|A|) mirrored so no float boundary can
    // disagree. A pair sharing zero shingles can't reach any positive
    // threshold, so the token join loses nothing; shingle-less docs
    // drop from the explode in both engines.
    Query("e2_containment", e2Containment,
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |    array_to_string(l[1:(len(l) + 1) // 2], ' ') AS text
        |  FROM (SELECT doc_id, string_split(text, ' ') AS l
        |        FROM documents) d
        |  WHERE doc_id % 9 = 0),
        |tok AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(list_transform(
        |      range(1, greatest(len(string_split(text,' ')) - 2, 0) + 1),
        |      i -> string_split(text,' ')[i] || ' ' ||
        |           string_split(text,' ')[i+1] || ' ' ||
        |           string_split(text,' ')[i+2]))) AS tok
        |  FROM base),
        |sizes AS (SELECT doc_id, count(*) AS na FROM tok GROUP BY doc_id),
        |shared AS (
        |  SELECT a.doc_id AS ca, b.doc_id AS cb, count(*) AS sh
        |  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id <> b.doc_id
        |  GROUP BY ca, cb)
        |SELECT ca AS contained_id, cb AS container_id,
        |  na::BIGINT AS n_shingles,
        |  round(sh::DOUBLE / na, 4) AS containment
        |FROM shared JOIN sizes ON sizes.doc_id = ca
        |WHERE 5 * sh >= 4 * na
        |ORDER BY contained_id, container_id""".stripMargin),
    Query("e2_ngram_jaccard", e2NgramJaccard,
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(string_split(text,' ')) - 2, 0) + 1),
        |      i -> string_split(text,' ')[i] || ' ' ||
        |           string_split(text,' ')[i+1] || ' ' ||
        |           string_split(text,' ')[i+2])) AS s
        |  FROM documents)
        |SELECT a.doc_id AS a, b.doc_id AS b,
        |  round(len(list_intersect(a.s, b.s))::DOUBLE
        |    / len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
        |FROM sh a, sh b
        |WHERE a.doc_id < b.doc_id
        |  AND len(list_intersect(a.s, b.s))::DOUBLE
        |    / len(list_distinct(list_concat(a.s, b.s))) >= 0.75
        |ORDER BY a, b""".stripMargin),
    Query("e2_simhash_neardup", e2SimhashNearDup,
      "SELECT true AS recall_ok, true AS precision_ok, true AS cand_budget_ok"),
    // The native expression must agree with DuckDB's implementation
    // bit-for-bit (both score raw UTF-8 bytes, same boost rule).
    Query("e12_jaro_er", e12JaroEr,
      """SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
        |  round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        |WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.88
        |ORDER BY key_a, key_b""".stripMargin),
    // Naive all-pairs-within-block Levenshtein — the deletion-
    // neighborhood join must reproduce it exactly (any lost pair is a
    // hash mismatch). DuckDB levenshtein returns BIGINT; Spark's is INT.
    Query("e2_edit_join", e2EditJoin,
      """SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
        |  levenshtein(a.p_name, b.p_name)::INTEGER AS dist
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) <= 2
        |ORDER BY key_a, key_b""".stripMargin),
    // Self-check ✱: the three lifecycle equalities are asserted
    // in-plan (merge-on-read vs fresh-build over survivors, post-
    // compaction invariance, non-vacuous widening).
    Query("e2_lsh_delete", e2LshDelete,
      """SELECT true AS mor_equals_fresh_build,
        |  true AS compaction_preserves,
        |  true AS delete_widens_admission""".stripMargin),
    // Plain anti-join restatement of the bloom-prefiltered admission
    // (the prefilter is exact end-to-end: no false negatives, false
    // positives removed by the exact join).
    Query("e2_bloom_ingest", e2BloomIngest,
      """SELECT doc_id, lang FROM documents
        |WHERE doc_id % 5 <> 0
        |  AND sha256(text) NOT IN (
        |    SELECT sha256(text) FROM documents WHERE doc_id % 5 = 0)
        |ORDER BY doc_id""".stripMargin),
    // Whole admission recomputed with exact all-pairs Jaccard over
    // old ∪ exact-kept fresh, restricted to fresh b-sides (ids ≥
    // 100000) — exactly the pair population the asymmetric band join
    // may draw from.
    Query("e2_incremental", e2Incremental,
      """WITH old AS (SELECT doc_id, text, lang FROM documents),
        |fresh AS (
        |  SELECT doc_id + 100000 AS doc_id, text, lang FROM documents
        |  WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000, text || ' zzduplicate', lang FROM documents
        |  WHERE doc_id % 20 = 0
        |  UNION ALL
        |  SELECT doc_id + 300000, substr(text, 1, (n_chars // 2)::INT), lang
        |  FROM documents WHERE doc_id % 25 = 0),
        |exact_kept AS (
        |  SELECT doc_id, text, lang FROM (
        |    SELECT doc_id, text, lang,
        |      row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |    FROM fresh)
        |  WHERE rn = 1 AND text NOT IN (SELECT text FROM old)),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(string_split(text,' ')) - 2, 0) + 1),
        |      i -> string_split(text,' ')[i] || ' ' ||
        |           string_split(text,' ')[i+1] || ' ' ||
        |           string_split(text,' ')[i+2])) AS s
        |  FROM (SELECT doc_id, text FROM old
        |        UNION ALL SELECT doc_id, text FROM exact_kept)),
        |drop_b AS (
        |  SELECT DISTINCT b.doc_id AS doc_id
        |  FROM sh a, sh b
        |  WHERE b.doc_id >= 100000 AND a.doc_id < b.doc_id
        |    AND len(list_intersect(a.s, b.s))::DOUBLE
        |      / len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
        |kept AS (
        |  SELECT * FROM exact_kept
        |  WHERE doc_id NOT IN (SELECT doc_id FROM drop_b))
        |SELECT f.lang, f.n_fresh,
        |  coalesce(k.n_kept, 0) AS n_kept,
        |  coalesce(k.sum_kept_ids, 0) AS sum_kept_ids
        |FROM (SELECT lang, count(*)::BIGINT AS n_fresh
        |      FROM fresh GROUP BY lang) f
        |LEFT JOIN (SELECT lang, count(*)::BIGINT AS n_kept,
        |             sum(doc_id)::BIGINT AS sum_kept_ids
        |           FROM kept GROUP BY lang) k USING (lang)
        |ORDER BY lang""".stripMargin),
    // The closure recomputed declaratively: reach(src,dst) saturates
    // via UNION-distinct; component = min reachable id.
    Query("e2_cluster_cc", e2ClusterCc,
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(string_split(text,' ')) - 2, 0) + 1),
        |      i -> string_split(text,' ')[i] || ' ' ||
        |           string_split(text,' ')[i+1] || ' ' ||
        |           string_split(text,' ')[i+2])) AS s
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM sh a, sh b
        |  WHERE a.doc_id < b.doc_id
        |    AND len(list_intersect(a.s, b.s))::DOUBLE
        |      / len(list_distinct(list_concat(a.s, b.s))) >= 0.75),
        |edges AS (
        |  SELECT a AS src, b AS dst FROM pairs
        |  UNION ALL SELECT b, a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
        |SELECT src AS doc_id, min(dst) AS component
        |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin),
    // The incremental-maintenance gate: the oracle is the FULL
    // recompute over corpus ∪ freshBatch — the same closure as
    // e2_cluster_cc with the batch unioned in. `pairs` feeds `edges`
    // twice (both orientations), so it must be MATERIALIZED or DuckDB
    // inlines the all-pairs join at each reference (the e16 lesson).
    Query("e2_cluster_incremental", e2ClusterIncremental,
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents
        |  WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000, text || ' zzduplicate' FROM documents
        |  WHERE doc_id % 20 = 0
        |  UNION ALL
        |  SELECT doc_id + 300000, substr(text, 1, (n_chars // 2)::INT)
        |  FROM documents WHERE doc_id % 25 = 0),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(string_split(text,' ')) - 2, 0) + 1),
        |      i -> string_split(text,' ')[i] || ' ' ||
        |           string_split(text,' ')[i+1] || ' ' ||
        |           string_split(text,' ')[i+2])) AS s
        |  FROM docs),
        |pairs AS MATERIALIZED (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM sh a, sh b
        |  WHERE a.doc_id < b.doc_id
        |    AND len(list_intersect(a.s, b.s))::DOUBLE
        |      / len(list_distinct(list_concat(a.s, b.s))) >= 0.75),
        |edges AS (
        |  SELECT a AS src, b AS dst FROM pairs
        |  UNION ALL SELECT b, a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
        |SELECT src AS doc_id, min(dst) AS component
        |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin),
  )
}
