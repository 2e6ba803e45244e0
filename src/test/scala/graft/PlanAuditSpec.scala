package graft

/** Freezes the plan audit: every registered query's scale-flag set must
  * equal the known-benign baseline below. A new CartesianProduct, a
  * lost whole-stage-codegen span, SortAggregate creep, or an unexpected
  * BroadcastNestedLoopJoin anywhere fails this suite — the audit is a
  * test, not a report a human has to read.
  *
  * The baseline's BroadcastNestedLoop entries are all intended shapes
  * (adjudicated in round 4's plan audit):
  *   - j5_cross / j5_theta: cross and theta joins ARE the semantics;
  *   - e3_cosine_topk / e3_ann_recall / e3_ann_neardup / e3_ivf_recall /
  *     e3_cosine_neardup: broadcast-query non-equi scans (the designed
  *     map-side ANN shape) and the exact all-pairs verification
  *     harnesses inside self-check gates;
  *   - e2_simhash_neardup / e6_cms_heavyhitters: one-row crossJoins
  *     assembling self-check scalars.
  */
class PlanAuditSpec extends SparkSpec {

  /** Known-benign flags per query; queries absent here must audit clean. */
  private val expected: Map[String, Set[String]] = Map(
    "e2_simhash_neardup" -> Set("BroadcastNestedLoop"),
    "e3_ann_neardup" -> Set("BroadcastNestedLoop"),
    // gate-SF exact retrievers (broadcast-query non-equi scans) feeding
    // the rank-only fusion; the production candidates come from the
    // gated ANN / prefix-filter indexes
    "e3_hybrid_rrf" -> Set("BroadcastNestedLoop"),
    // one-row n_records total crossJoined onto each scheme's
    // candidate-count row — the blocking joins themselves are equi
    "e13b_blocking_metrics" -> Set("BroadcastNestedLoop"),
    // two exact broadcast-query scans (16-dim ranking + 64-dim
    // reference top-5) feeding the overlap join — at scale the short
    // prefix rides the gated ANN index shapes
    "e3_matryoshka" -> Set("BroadcastNestedLoop"),
    "e3_ann_recall" -> Set("BroadcastNestedLoop"),
    // gate-SF exact broadcast-query scan feeding the rank metrics; at
    // scale the ranked lists come from the gated ANN indexes
    "e3_eval_rank" -> Set("BroadcastNestedLoop"),
    "e3_cosine_neardup" -> Set("BroadcastNestedLoop"),
    "e3_cosine_topk" -> Set("BroadcastNestedLoop"),
    "e3_quantized_cosine" -> Set("BroadcastNestedLoop"),
    "e5_pipeline" -> Set("BroadcastNestedLoop"),
    "e3_ivf_recall" -> Set("BroadcastNestedLoop"),
    // exact all-pairs verification side + one-row gate scalars
    "e3_semdedup" -> Set("BroadcastNestedLoop"),
    // bench-visible production search paths: the broadcast-signature /
    // broadcast-query non-equi scan (designed map-side ANN shape) plus
    // one-row crossJoins assembling their cheap invariant scalars
    "e3_ann_search" -> Set("BroadcastNestedLoop"),
    // one-row gate scalars crossJoined (recall × structure audits /
    // the query-count scalar) — the search itself is per-shard beam
    // work over mapPartitions plus one per-query window merge
    "e3_hnsw_recall" -> Set("BroadcastNestedLoop"),
    "e3_hnsw_search" -> Set("BroadcastNestedLoop"),
    "e3_hnsw_indexed" -> Set("BroadcastNestedLoop"),
    "e3_hnsw_incremental" -> Set("BroadcastNestedLoop"),
    "e3_hnsw_delete" -> Set("BroadcastNestedLoop"),
    "e3_ivf_search" -> Set("BroadcastNestedLoop"),
    "e3_pq_recall" -> Set("BroadcastNestedLoop"),
    "e3_pq_search" -> Set("BroadcastNestedLoop"),
    // one-row gate-scalar crossJoins only — the IVFADC scan itself is
    // a cell equi-join, no nested-loop anywhere
    "e3_ivfpq_recall" -> Set("BroadcastNestedLoop"),
    "e3_ivfpq_search" -> Set("BroadcastNestedLoop"),
    "e3_pq_indexed" -> Set("BroadcastNestedLoop"),
    "e3_semdedup_run" -> Set("BroadcastNestedLoop"),
    "e3_ivf_indexed" -> Set("BroadcastNestedLoop"),
    // six one-row gate scalars crossJoined — the ingest itself is a
    // map-side assignment + partition-local append, no nested loop
    "e3_ivf_incremental" -> Set("BroadcastNestedLoop"),
    // seven one-row gate scalars crossJoined — the delete path is a
    // broadcast ANTI-join sidecar apply + partition-local compaction
    "e3_ivf_delete" -> Set("BroadcastNestedLoop"),
    // one-row gate scalars crossJoined (+ the exact broadcast-query
    // recall scan) — the split itself is a cell-local 2-means +
    // directory swap, no nested loop
    "e3_ivf_rebalance" -> Set("BroadcastNestedLoop"),
    // three one-row gate scalars crossJoined (label equality, merge
    // witness) — the maintenance path itself is contraction equi-joins
    "ev33_stream_cluster_maintain" -> Set("BroadcastNestedLoop"),
    // same: one-row gate scalars crossJoined over the coded layout
    "e3_ivfpq_delete" -> Set("BroadcastNestedLoop"),
    // four one-row gate scalars crossJoined (+ the exact broadcast-
    // query recall scan) — the streamed ingest itself is the map-side
    // assignment + partition-local append per micro-batch
    "ev31_stream_ivf_ingest" -> Set("BroadcastNestedLoop"),
    // three one-row gate scalars crossJoined (two set-equalities + the
    // widening check) — every admission underneath is digest/band
    // equi-joins over the signature table
    "e2_lsh_delete" -> Set("BroadcastNestedLoop"),
    // three one-row gate scalars crossJoined — the streamed LSH ingest
    // itself is per-batch banded equi-joins + cell-partitioned appends
    "ev32_stream_lsh_ingest" -> Set("BroadcastNestedLoop"),
    // five one-row gate scalars crossJoined — the pipeline under test
    // is map-only decode+hash and a banded equi-join with an absolute
    // pair budget
    "e5_jpeg_phash" -> Set("BroadcastNestedLoop"),
    // eight one-row gate scalars crossJoined (code-equality, search-
    // equality, recall, scan budget) — the IVFADC ingest is a frozen-
    // artifact encode + partition-local append, no nested loop
    "e3_ivfpq_incremental" -> Set("BroadcastNestedLoop"),
    "e6_cms_heavyhitters" -> Set("BroadcastNestedLoop"),
    // one-row corpus-total scalar crossJoined onto the QI group table
    "e9_kanon" -> Set("BroadcastNestedLoop"),
    // one-row crossJoins assembling the S-row rate table's scalars
    "e8_mixture" -> Set("BroadcastNestedLoop"),
    "e8_upsample" -> Set("BroadcastNestedLoop"),
    // one-row corpus count crossJoined onto the vocabulary table
    "e4_tfidf" -> Set("BroadcastNestedLoop"),
    // the source-pair grid (20×20 dim×dim, `<` condition) — the j5
    // dim-cross shape; the distributions join the grid equi-keyed
    "e4_jsd" -> Set("BroadcastNestedLoop"),
    // one-row totals (rTot/tTot/|V|) crossJoined onto the vocab-sized
    // log-ratio table — the LM join itself is an equi-join on the token
    "e14_dsir" -> Set("BroadcastNestedLoop"),
    "e14b_dsir_hashed" -> Set("BroadcastNestedLoop"),
    // one-row corpus-total crossJoined onto the vocab LM (the e14 shape)
    "e15_ccnet_buckets" -> Set("BroadcastNestedLoop"),
    // two one-row totals (token sum, weight sum) crossJoined onto the
    // S-row source plan table
    "e17_mixture_plan" -> Set("BroadcastNestedLoop"),
    // one-row leaked-pair count crossJoined onto the 3-row split rollup
    "e16_leak_split" -> Set("BroadcastNestedLoop"),
    "e4_logprob" -> Set("BroadcastNestedLoop"),
    // one-row vocabulary-size scalar crossJoined onto the bigram table
    "e4_bigram_lm" -> Set("BroadcastNestedLoop"),
    // one-row (N, V) scalar crossJoined onto the probe-type table —
    // the count-table joins themselves are keyed left equi-joins
    "e4_backoff_lm" -> Set("BroadcastNestedLoop"),
    // one-row best-distance scalar crossJoined onto the 7-row plan
    // table — pure closed-form driver-sized arithmetic
    "e2_lsh_plan" -> Set("BroadcastNestedLoop"),
    // one-row (N, avgdl) scalars crossJoined onto the Q-row term table
    "e4_bm25" -> Set("BroadcastNestedLoop"),
    // two one-row global est/exact scalars crossJoined onto a one-row agg
    "a11_sketch_table" -> Set("BroadcastNestedLoop"),
    // the one-row sketch result crossJoined onto the scan for the
    // in-plan rank recount — map-side, no data join
    "a21_approx_quantile" -> Set("BroadcastNestedLoop"),
    // per-table one-row before/after audit scalars crossJoined pairwise
    "k16_forget" -> Set("BroadcastNestedLoop"),
    // per-snapshot one-row (n_orders × n_li × orphans) audit scalars
    // crossJoined — the txn commit itself is N parquet writes + one
    // marker rename, no join anywhere
    "k32_multi_table_txn" -> Set("BroadcastNestedLoop"),
    // four one-row gate scalars crossJoined (range agg, pruned-dir
    // count, key agg, bucket-dir count) — both scans are
    // PartitionFilters-pruned Hive reads, no data join anywhere
    "k34_hidden_partition" -> Set("BroadcastNestedLoop"),
    // two one-row ECE scalars (raw vs calibrated) crossJoined — the
    // binning/scoring underneath is map-only + keyed aggregation
    "e10c_calibration" -> Set("BroadcastNestedLoop"),
    // latest-wins survivorship = max(struct(ts, src, name)) — STRING
    // fields make the buffer immutable, same rule as a13 below; the
    // partial agg still combines per group before the shuffle
    "e13c_golden_record" -> Set("SortAggregate"),
    // min/max over STRING columns have immutable aggregation buffers,
    // which HashAggregate can't hold — Spark's canonical plan is
    // SortAggregate, and with ZERO grouping keys it performs no sort
    // (one partial row per partition, one merge). Not creep.
    "s16_profile" -> Set("SortAggregate"),
    // max_by/min_by carrying a STRING value — same immutable-buffer
    // rule; the sort is per-group partial, still partial-aggregable
    "a13_argmax" -> Set("SortAggregate"),
    // min(string attr) per (key, version) run — same immutable-buffer
    // rule, input already key-clustered by the preceding window
    "k17_scd2" -> Set("SortAggregate"),
    // 1-row totals (order count) crossJoined onto the rule table
    "a15_assoc_rules" -> Set("BroadcastNestedLoop"),
    // one-row exact×estimate crossJoin assembling the gate scalars;
    // max(when(...)) over the ARRAY sketch column pivots two rows with
    // an immutable agg buffer — same zero-grouping-key rule as s16
    "a23_sketch_setops" -> Set("BroadcastNestedLoop", "SortAggregate"),
    // same array-pivot immutable buffer, keyed by region — the sort is
    // over the 5-per-year sketch-table rows, not the facts
    "a24_sketch_groups" -> Set("SortAggregate"),
    // 1-row unigram/bigram totals crossJoined onto the pair table
    "e4_pmi" -> Set("BroadcastNestedLoop"),
    // broadcast-query non-equi scan — the designed map-side kNN shape
    "e3_knn_classify" -> Set("BroadcastNestedLoop"),
    // broadcast-anchor different-label scan — same map-side shape
    "e3_hard_negatives" -> Set("BroadcastNestedLoop"),
    // one stats row read back from the catalog after ANALYZE TABLE —
    // a driver-local LocalTableScan has no codegen stage to span
    "s19_analyze_stats" -> Set("NoCodegen"),
    // the observed-metrics row materializes driver-side (obs.get) and
    // returns as a 1-row LocalTableScan — the SCAN ran inside the
    // observed noop write, which is the point of the API
    "x8_observe" -> Set("NoCodegen"),
    // five one-row self-check scalars crossJoined into the gate row
    "e5_phash_neardup" -> Set("BroadcastNestedLoop"),
    // same gate-scalar shape over the DCT-pHash banding
    "e5_dct_phash" -> Set("BroadcastNestedLoop"),
    // one-row fixpoint certificate crossJoined onto the core rows
    "g5_kcore" -> Set("BroadcastNestedLoop"),
    // HITS's one-row authority/hub max-normalization scalars,
    // crossJoined in the last round (the rounds before it are cut)
    "g6_hits" -> Set("BroadcastNestedLoop"),
    // one-row max-corpus-norm (and the self-check scalar rollup)
    // crossJoined in-plan — broadcast-constant shapes, not data joins
    "e3_mips_topk" -> Set("BroadcastNestedLoop"),
    "e3_mips_ann" -> Set("BroadcastNestedLoop"),
    "j5_cross" -> Set("BroadcastNestedLoop"),
    "j5_theta" -> Set("BroadcastNestedLoop"),
    // --- SinglePartitionWindow adjudications (round 12). The flag marks
    // a Window whose shuffle input is SinglePartition; these seven are
    // benign because the frame reaching the window is NOT corpus-sized:
    // WITH TIES top-k: the WindowGroupLimit above the exchange caps the
    // single partition at ~k rows (plan-pinned in RelationalPlanSpec)
    "l6_topk_ties" -> Set("SinglePartitionWindow"),
    // sliding-uniques window over the ~date-count daily rollup, not rows
    "a12_rolling_uniques" -> Set("SinglePartitionWindow"),
    // χ² marginals: windows over the C-row observed-cell table
    // (|lang|×|source| cells); the fact table aggregated first
    "e4_chi2" -> Set("SinglePartitionWindow"),
    // Zipf rank over the vocabulary frequency table — vocab-sized and
    // a documented gate-SF spelling of a range-partitioned sort
    // (TextStats.scala zipfFit scaladoc)
    "e4_zipf" -> Set("SinglePartitionWindow"),
    // curriculum / length-batching global orderings: documented gate-SF
    // spellings of range-partitioned sorts (TrainPrep.scala scaladoc)
    "e8_curriculum" -> Set("SinglePartitionWindow"),
    "e8_length_batching" -> Set("SinglePartitionWindow"),
    // DP release rank window over the lang×source released-cell frame —
    // dim-sized like the mixture tables, never document-sized
    "e9_dp_release" -> Set("SinglePartitionWindow"),
  )

  test("plan audit: every query's flag set matches the benign baseline") {
    // Codegen spans (*(n)) are hidden under AdaptiveSparkPlan until
    // execution — audit the static plan, as the PlanAudit CLI does.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val diffs = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
        case (name, fn) =>
          val got = PlanAudit.flags(
            fn(spark, sf).queryExecution.executedPlan)
          val want = expected.getOrElse(name, Set.empty)
          if (got == want) None
          else Some(s"$name: got ${got.toSeq.sorted.mkString(",")} " +
            s"want ${want.toSeq.sorted.mkString(",")}")
      }
      assert(diffs.isEmpty, s"plan-audit drift:\n${diffs.mkString("\n")}")
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("baseline only names registered queries (no stale entries)") {
    val stale = expected.keySet -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"baseline entries for unregistered queries: $stale")
  }
}
