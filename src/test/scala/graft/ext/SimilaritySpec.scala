package graft.ext

import org.apache.spark.sql.functions._
import graft.{SparkEntry, SparkSpec, Tables}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("bruteForceTopK ranks by cosine with deterministic tie-break") {
    // q=(1,0): parallel (2,0) cos=1 > diagonal (1,1) cos=.707 > orthogonal (0,1) cos=0
    val vecs = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(2f, 0f)), (2L, Seq(1f, 1f)), (3L, Seq(0f, 1f)))
      .toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs.filter($"vec_id" === 0), vecs, 3)
      .orderBy("rnk")
      .select("c_id", "sim").as[(Long, Double)].collect().toSeq
    assert(top.map(_._1) == Seq(1L, 2L, 3L))
    assert(math.abs(top(0)._2 - 1.0) < 1e-9)
    assert(math.abs(top(1)._2 - math.sqrt(0.5)) < 1e-6)
    assert(math.abs(top(2)._2) < 1e-9)
  }

  test("ivfTrain seeding survives id-clustered data (the lowest-id " +
      "collapse case): every planted cluster gets its own cell") {
    // Four well-separated one-hot clusters of 25 vectors each, with
    // cluster membership = id / 25 — so ids 0..24 ALL sit in cluster 0.
    // The old lowest-id seeding put every one of the 4 seeds inside
    // cluster 0; Lloyd cannot separate what the seeds never span
    // (empty cells keep their near-duplicate initials), so clusters
    // 1-3 shared cells. k-means|| cost-sampling must spread the seeds:
    // after training, the 4 cells partition the data EXACTLY along the
    // planted clusters. Small deterministic in-cluster jitter keeps
    // the fixture non-degenerate (distinct vectors, one dominant
    // direction each).
    val vecs = (0L until 100L).map { id =>
      val cl = (id / 25).toInt
      val jitter = 0.05f * ((id % 5).toInt - 2)
      val v = Array.fill(8)(0f)
      v(cl) = 1f
      v(cl + 4) = jitter
      (id, v.toSeq)
    }.toDF("vec_id", "embedding")
    val cents = Similarity.ivfTrain(vecs, c = 4, iters = 3)
    assert(cents.length == 4)
    val assigned = Similarity.ivfAssign(vecs, cents)
      .select($"vec_id", $"cell").as[(Long, Int)].collect()
    val byCluster = assigned.groupBy(_._1 / 25)
      .view.mapValues(_.map(_._2).toSet).toMap
    // each planted cluster lands in exactly one cell...
    byCluster.foreach { case (cl, cells) =>
      assert(cells.size == 1, s"cluster $cl split across cells $cells")
    }
    // ...and no two clusters share a cell (4 distinct cells in use)
    val used = byCluster.values.map(_.head).toSet
    assert(used.size == 4, s"clusters collapsed into cells $used")
  }

  test("hardNegatives excludes same-label vectors however similar") {
    // anchor 0 (label 0): its nearest vector 1 shares the label and
    // must NOT appear; the best different-label vector (2) must rank 1.
    val vecs = Seq(
      (0L, Seq(1f, 0f), 0), (1L, Seq(2f, 0f), 0),
      (2L, Seq(1f, 1f), 1), (3L, Seq(0f, 1f), 1))
      .toDF("vec_id", "embedding", "label")
    val neg = Similarity.hardNegatives(vecs.filter($"vec_id" === 0), vecs, 3)
      .orderBy("rnk")
      .select("c_id", "c_label").as[(Long, Int)].collect().toSeq
    assert(neg == Seq((2L, 1), (3L, 1)), s"got $neg")
  }

  test("annCandidates recall over embeddings clears the query's bound with margin") {
    val emb = Tables.load(spark, sf, "embeddings")
    val queries = emb.filter($"vec_id" < 50)
    val exact = Similarity.bruteForceTopK(queries, emb, 5)
      .select("q_id", "c_id")
    val cand = Similarity.annCandidates(emb, queries).cache()
    val total = exact.count().toDouble
    val hits = exact.join(cand.select("q_id", "c_id"),
      Seq("q_id", "c_id"), "left_semi").count()
    val maxPerQ = cand.groupBy("q_id").count()
      .agg(max("count")).head().getLong(0)
    info(f"ANN recall@5 = ${hits / total}%.3f, max candidates/query = $maxPerQ")
    assert(hits / total >= 0.55, s"recall ${hits / total} too low")
    assert(maxPerQ <= 150, s"per-query budget violated: $maxPerQ")
  }

  test("cosineNearDupViaAnn finds the exact near-dup pairs without all-pairs compare") {
    val emb = Tables.load(spark, sf, "embeddings")
    val viaAnn = Similarity.cosineNearDupViaAnn(emb, threshold = 0.45)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val exact = SparkEntry.queries("e3_cosine_neardup")(spark, sf)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "corpus should contain cosine near-dups")
    val recall = (exact & viaAnn).size.toDouble / exact.size
    info(f"ANN near-dup recall vs exact = $recall%.3f (${viaAnn.size} found, ${exact.size} exact)")
    assert(recall >= 0.8, s"production near-dup path lost too many pairs: $recall")
    assert(viaAnn.subsetOf(exact), "refinement must not admit false positives")
  }

  test("pqSearch is exact when the corpus is its own codebook") {
    // 4 distinct 4-dim vectors as the first 4 ids, ksub = 4: the seeds
    // ARE the distinct slice values, Lloyd means stay put, so ADC
    // reconstruction is exact and pqSearch must equal bruteForceTopK.
    val base = Seq(
      Seq(1f, 0f, 0f, 1f), Seq(0f, 1f, 1f, 0f),
      Seq(1f, 1f, 0f, 0f), Seq(0f, 0f, 1f, 1f))
    val vecs = (0 until 12).map(i => (i.toLong, base(i % 4)))
      .toDF("vec_id", "embedding")
    val books = Similarity.pqTrain(vecs, m = 2, ksub = 4, iters = 2)
    assert(books.length == 2 && books.forall(_.length == 4))
    val queries = vecs.filter($"vec_id" < 4)
    val pq = Similarity.pqSearch(vecs, queries, books, k = 3, rerank = 12)
      .orderBy("q_id", "rnk").collect().map(_.toSeq).toSeq
    val exact = Similarity.bruteForceTopK(queries, vecs, 3)
      .orderBy("q_id", "rnk").collect().map(_.toSeq).toSeq
    assert(pq == exact, s"pq $pq vs exact $exact")
  }

  test("pqSearch recall over embeddings clears the query's bound with margin") {
    val emb = Tables.load(spark, sf, "embeddings")
    val queries = emb.filter($"vec_id" < 50)
    val books = Similarity.pqTrain(emb, m = 8, ksub = 32, iters = 2)
    assert(books.length == 8 && books.forall(b =>
      b.length == 32 && b.forall(_.length == 8)))
    val exact = Similarity.bruteForceTopK(queries, emb, 5).select("q_id", "c_id")
    val found = Similarity.pqSearch(emb, queries, books, k = 5, rerank = 100)
      .select("q_id", "c_id")
    val total = exact.count().toDouble
    val hits = exact.join(found, Seq("q_id", "c_id"), "left_semi").count()
    info(f"PQ recall@5 = ${hits / total}%.3f")
    assert(hits / total >= 0.6, s"recall ${hits / total} too low")
    // codes stay inside the codebook range
    val codes = Similarity.pqEncode(emb, books)
      .select(explode($"codes").as("cd"))
    assert(codes.filter($"cd" < 0 || $"cd" > 31).count() == 0)
  }

  test("ivfPqSearch recall clears the bound and scans via cell equi-join") {
    val emb = Tables.load(spark, sf, "embeddings")
    val queries = emb.filter($"vec_id" < 50)
    val cents = Similarity.ivfTrain(emb, c = 32, iters = 2)
    val books = Similarity.ivfPqTrain(emb, cents, m = 8, ksub = 32, iters = 2)
    val res = Similarity.ivfPqSearch(emb, queries, cents, books,
      k = 5, nprobe = 8, rerank = 100)
    val exact = Similarity.bruteForceTopK(queries, emb, 5).select("q_id", "c_id")
    val total = exact.count().toDouble
    val hits = exact.join(res.select("q_id", "c_id"),
      Seq("q_id", "c_id"), "left_semi").count()
    info(f"IVF-PQ recall@5 = ${hits / total}%.3f")
    assert(hits / total >= 0.6, s"recall ${hits / total} too low")
    // the compressed scan must be the cell equi-join, never a
    // nested-loop over the corpus (collect first: AQE final plan)
    res.collect()
    val plan = res.queryExecution.executedPlan.toString()
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"IVFADC scan must not nested-loop:\n${plan.take(1500)}")
  }

  test("ivfTopK recall over embeddings clears the query's bound with margin") {
    val emb = Tables.load(spark, sf, "embeddings")
    val queries = emb.filter($"vec_id" < 50)
    val cents = Similarity.ivfTrain(emb, c = 32, iters = 2)
    assert(cents.size == 32 && cents.forall(_._2.nonEmpty))
    // trained centroids are unit vectors
    cents.foreach { case (_, v) =>
      assert(math.abs(math.sqrt(v.map(x => x * x).sum) - 1.0) < 1e-9)
    }
    val exact = Similarity.bruteForceTopK(queries, emb, 5).select("q_id", "c_id")
    val found = Similarity.ivfTopK(emb, queries, cents, k = 5, nprobe = 8)
      .select("q_id", "c_id")
    val total = exact.count().toDouble
    val hits = exact.join(found, Seq("q_id", "c_id"), "left_semi").count()
    info(f"IVF recall@5 = ${hits / total}%.3f")
    assert(hits / total >= 0.6, s"recall ${hits / total} too low")
    // every corpus vector lands in exactly one of the C cells
    val assigned = Similarity.ivfAssign(emb, cents)
    assert(assigned.count() == emb.count())
    assert(assigned.agg(countDistinct($"cell")).head().getLong(0) <= 32)
  }

  test("vec_dot native kernel agrees with the HOF spelling and registers for SQL") {
    val df = Tables.load(spark, sf, "embeddings").limit(100)
      .select(transform($"embedding", _.cast("double")).as("v"))
    val native = df.select(graft.functions.VecDot.vecDot($"v", $"v"))
      .as[Double].collect().toSeq
    val hof = df.select(
      aggregate(zip_with($"v", $"v", (x, y) => x * y), lit(0.0), _ + _))
      .as[Double].collect().toSeq
    assert(native == hof, "codegen kernel diverges from HOF fold")
    val sql = spark.sql("SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))")
      .head().getDouble(0)
    assert(sql == 11.0)
    val err = intercept[Exception] {
      spark.sql("SELECT vec_dot(array(1.0D), array(1.0D, 2.0D))").head()
    }
    assert(err.getMessage.contains("dimension mismatch"))
  }

  test("IVF on-disk index search dynamically prunes unprobed cell partitions") {
    import org.apache.spark.sql.functions._
    val emb = Tables.load(spark, sf, "embeddings")
    val cents = Similarity.ivfTrain(emb, c = 8, iters = 1)
    val path = graft.lake.Lake.scratchDir("ivfidx_spec") + "/index"
    Similarity.ivfWriteIndex(emb, cents, path)
    val search = Similarity.ivfSearchIndex(spark, path,
      emb.filter(col("vec_id") < 3), cents, k = 3, nprobe = 2)
    val plan = search.queryExecution.executedPlan.toString()
    assert(plan.contains("dynamicpruningexpression"),
      s"index scan must prune cells via DPP:\n${plan.take(1500)}")
    // and the search result equals the in-memory path
    val mem = Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 3),
      cents, k = 3, nprobe = 2)
    assert(search.exceptAll(mem).count() == 0 &&
      mem.exceptAll(search).count() == 0)
  }

  test("IVF index deletes: tombstones hide ids, replay is harmless, " +
      "compaction folds and leaves untouched cells byte-identical") {
    import java.nio.file.{Files, Paths}
    val emb = Tables.load(spark, sf, "embeddings")
    val cents = Similarity.ivfTrain(emb, c = 8, iters = 1)
    val path = graft.lake.Lake.scratchDir("ivfdel_spec") + "/index"
    Similarity.ivfWriteIndex(emb, cents, path)
    val delIds = emb.filter($"vec_id" % 7 === 2).select("vec_id")
    val delSet = delIds.as[Long].collect().toSet
    Similarity.ivfDelete(delIds, path)
    Similarity.ivfDelete(delIds, path) // full replay: still harmless
    val queries = emb.filter($"vec_id" < 5)
    val mor = Similarity.ivfSearchIndex(spark, path, queries, cents,
      k = 4, nprobe = 3)
    val morRows = mor.select("q_id", "rnk", "c_id").as[(Long, Int, Long)]
      .collect().toSeq
    assert(morRows.nonEmpty && morRows.forall(r => !delSet(r._3)),
      "tombstoned ids must never surface")
    // survivors-only semantics: equals search over a survivor-built
    // index under the same frozen centroids
    val fresh = graft.lake.Lake.scratchDir("ivfdel_spec_f") + "/index"
    Similarity.ivfWriteIndex(emb.filter($"vec_id" % 7 =!= 2), cents, fresh)
    val want = Similarity.ivfSearchIndex(spark, fresh, queries, cents,
      k = 4, nprobe = 3)
    assert(mor.exceptAll(want).count() == 0 &&
      want.exceptAll(mor).count() == 0)
    // compaction: affected cells rewritten, untouched cells keep their
    // exact files, sidecar gone, logical content unchanged
    val affected = spark.read.parquet(path)
      .join(delIds, Seq("vec_id"), "left_semi")
      .select("cell").distinct().as[Int].collect().toSet
    def listing(cell: Int): Seq[String] = {
      val ls = Files.list(Paths.get(path, s"cell=$cell"))
      try {
        import scala.jdk.CollectionConverters._
        ls.iterator().asScala.map(_.getFileName.toString).toList.sorted
      } finally ls.close()
    }
    val untouched = (0 until 8).filterNot(affected).filter(c =>
      Files.isDirectory(Paths.get(path, s"cell=$c")))
    val before = untouched.map(c => c -> listing(c)).toMap
    Similarity.ivfCompact(spark, path)
    assert(untouched.map(c => c -> listing(c)).toMap == before,
      "untouched cell dirs must be byte-identical (same files)")
    assert(!Files.isDirectory(Paths.get(path + "_tombstones")))
    val post = spark.read.parquet(path).select("vec_id").as[Long]
      .collect().toSet
    assert(post == emb.select("vec_id").as[Long].collect().toSet -- delSet,
      "compacted index must hold exactly the survivors")
    // idempotent: compacting with no sidecar is a no-op
    Similarity.ivfCompact(spark, path)
    assert(spark.read.parquet(path).count() == post.size)
  }

  test("ivfCompact recovers a mid-swap crash: a cell caught between " +
      "its move-out and move-in is restored, nothing is lost") {
    import java.nio.file.{Files, Paths}
    val emb = Tables.load(spark, sf, "embeddings")
    val cents = Similarity.ivfTrain(emb, c = 8, iters = 1)
    val path = graft.lake.Lake.scratchDir("ivfcrash_spec") + "/index"
    Similarity.ivfWriteIndex(emb, cents, path)
    val before = spark.read.parquet(path).select("vec_id").as[Long]
      .collect().toSet
    // Simulate the crash window: a previous compaction moved one live
    // cell dir aside, wrote the marker, and died before moving the
    // staged replacement in — the cell is absent from the live tree
    // and exists ONLY in the aside dir.
    val cell = spark.read.parquet(path).select("cell").distinct()
      .as[Int].collect().min
    val aside = Paths.get(path + "_compact_old")
    Files.createDirectories(aside)
    Files.move(Paths.get(path, s"cell=$cell"),
      aside.resolve(s"cell=$cell"))
    Files.writeString(Paths.get(path + "_compact_inprogress"),
      cell.toString)
    // Next compaction call (no sidecar → pure recovery path) must put
    // the cell back and clear the crash debris.
    Similarity.ivfCompact(spark, path)
    assert(spark.read.parquet(path).select("vec_id").as[Long]
      .collect().toSet == before, "recovery lost rows")
    assert(!Files.exists(Paths.get(path + "_compact_inprogress")))
    assert(!Files.isDirectory(aside))
    // And a real delete→compact cycle still works after recovery.
    val delIds = emb.filter($"vec_id" % 11 === 3).select("vec_id")
    val delSet = delIds.as[Long].collect().toSet
    Similarity.ivfDelete(delIds, path)
    Similarity.ivfCompact(spark, path)
    assert(spark.read.parquet(path).select("vec_id").as[Long]
      .collect().toSet == before -- delSet)
  }

  test("IVF-PQ on-disk index search dynamically prunes unprobed cells " +
      "and equals the in-memory coded path") {
    import org.apache.spark.sql.functions._
    val emb = Tables.load(spark, sf, "embeddings")
    val cents = Similarity.ivfTrain(emb, c = 8, iters = 1)
    val books = Similarity.ivfPqTrain(emb, cents, m = 4, ksub = 8, iters = 1)
    val path = graft.lake.Lake.scratchDir("ivfpqidx_spec") + "/index"
    Similarity.ivfPqWriteIndex(emb, cents, books, path)
    val q = emb.filter(col("vec_id") < 3)
    val search = Similarity.ivfPqSearchIndex(spark, path, emb, q,
      cents, books, k = 3, nprobe = 2, rerank = 20)
    val plan = search.queryExecution.executedPlan.toString()
    assert(plan.contains("dynamicpruningexpression"),
      s"coded index scan must prune cells via DPP:\n${plan.take(1500)}")
    val mem = Similarity.ivfPqSearch(emb, q, cents, books,
      k = 3, nprobe = 2, rerank = 20)
    assert(search.exceptAll(mem).count() == 0 &&
      mem.exceptAll(search).count() == 0)
  }

  test("annCandidates is deterministic across evaluations") {
    val emb = Tables.load(spark, sf, "embeddings").limit(40)
    val q = emb.limit(5)
    val a = Similarity.annCandidates(emb, q, budget = 10, tau = 140).count()
    val b = Similarity.annCandidates(emb, q, budget = 10, tau = 140).count()
    assert(a == b)
  }

  test("quantized cosine stays within the int8 error envelope") {
    // 64-dim int8 symmetric quantization: per-element error ≤ s/2 with
    // s ≈ max|v|/127, so cosine error stays well under 0.05 on unit-ish
    // vectors; the gate's err column must reflect that, with full rows.
    val rows = graft.SparkEntry.queries("e3_quantized_cosine")(spark, sf)
      .select($"err", $"qsim").as[(Double, Double)].collect()
    assert(rows.length == 20 * 3)
    assert(rows.forall { case (err, _) => err <= 0.05 },
      s"max err = ${rows.map(_._1).max}")
    assert(rows.forall { case (_, qsim) => qsim >= -1.0001 && qsim <= 1.0001 })
  }

  test("knnClassify: leave-one-out majority vote, ties to smaller label") {
    val corpus = Seq(
      (10L, Array(1.0f, 0.0f), 1),    // query; true label deliberately odd-one-out
      (1L, Array(0.99f, 0.01f), 0),
      (2L, Array(0.98f, 0.02f), 0),
      (3L, Array(0.97f, 0.03f), 2),
      (4L, Array(0.0f, 1.0f), 2),
      (5L, Array(0.01f, 0.99f), 2),
      (20L, Array(0.0f, 1.0f), 2))    // query; its cluster agrees
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.knnClassify(corpus,
        corpus.filter($"vec_id" isin (10L, 20L)), k = 3)
      .orderBy($"q_id").as[(Long, Int, Int, Boolean)].collect().toSeq
    // 10's 3-NN = {1, 2, 3} → votes {0:2, 2:1} → pred 0 ≠ 1
    // 20's 3-NN = {4, 5, 3} → all label 2 → pred 2 = 2
    assert(got == Seq((10L, 1, 0, false), (20L, 2, 2, true)), s"got $got")

    val tie = Seq(
      (30L, Array(1.0f, 0.0f), 9),
      (31L, Array(0.99f, 0.01f), 5),
      (32L, Array(0.98f, 0.02f), 3))
      .toDF("vec_id", "embedding", "label")
    val t = Similarity.knnClassify(tie, tie.filter($"vec_id" === 30L), k = 2)
      .as[(Long, Int, Int, Boolean)].collect().toSeq
    assert(t == Seq((30L, 9, 3, false)), s"1-1 vote must break low: $t")
  }

  test("mipsAugment: constant augmented norms, MIPS order beats cosine order") {
    // q=(1,0): by COSINE a=(0.9,0.1) wins (cos .994 vs .949); by INNER
    // PRODUCT b=(3,1) wins (3.0 vs 0.9) — the case plain cosine search
    // gets wrong and the reduction must get right.
    val corpus = Seq((1L, Seq(0.9f, 0.1f)), (2L, Seq(3f, 1f)))
      .toDF("vec_id", "embedding")
    val queries = Seq((0L, Seq(1f, 0f))).toDF("vec_id", "embedding")
    val cosTop = Similarity.bruteForceTopK(queries, corpus, 1)
      .select($"c_id").as[Long].head()
    assert(cosTop == 1L, "fixture must make cosine prefer the short vector")
    val (caug, qaug) = Similarity.mipsAugment(corpus, queries)
    // every augmented corpus vector has norm == max corpus norm
    val norms = caug.select(
        sqrt(aggregate($"embedding", lit(0.0), (s, x) => s + x * x)))
      .as[Double].collect()
    assert(norms.forall(n => math.abs(n - norms.max) < 1e-9),
      s"augmented norms not constant: ${norms.toSeq}")
    // query tail coordinate is exactly 0
    val qTail = qaug.select(element_at($"embedding", -1)).as[Double].head()
    assert(qTail == 0.0)
    // augmented-dot rank = inner-product rank → picks the long vector
    val q = qaug.select($"vec_id".as("q_id"), $"embedding".as("qv"))
    val c = caug.select($"vec_id".as("c_id"), $"embedding".as("cv"))
    val mipsTop = c.crossJoin(q)
      .withColumn("ip", graft.functions.VecDot.vecDot($"qv", $"cv"))
      .orderBy($"ip".desc).select($"c_id").as[Long].head()
    assert(mipsTop == 2L, "reduction must rank by inner product")
  }

  test("rrfFuse ranks dual-retriever candidates above single-list ones") {
    import spark.implicits._
    val lex = Seq((1L, 10L, 1), (1L, 11L, 2)).toDF("q_id", "c_id", "rnk")
    val dense = Seq((1L, 11L, 1), (1L, 12L, 2)).toDF("q_id", "c_id", "rnk")
    val got = Similarity.rrfFuse(lex, dense, k = 3)
      .select($"rnk", $"c_id", $"lex_rank", $"dense_rank")
      .as[(Int, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    // 11 appears in both lists (1/62 + 1/61) and must beat 10 (1/61
    // alone) and 12 (1/62 alone); absent ranks surface as 0.
    assert(got == Seq((1, 11L, 2L, 1L), (2, 10L, 1L, 0L),
      (3, 12L, 0L, 2L)), got)
  }

  test("topEigen recovers a known spectrum with deflation") {
    // diag(3, 1) rotated by 45°: eigenvalues 3 and 1, eigenvectors
    // (1,1)/√2 and (1,−1)/√2
    val m = Array(Array(2.0, 1.0), Array(1.0, 2.0))
    val Seq((l1, v1), (l2, v2)) = Similarity.topEigen(m, 2)
    assert(math.abs(l1 - 3.0) < 1e-9 && math.abs(l2 - 1.0) < 1e-9,
      s"lambdas $l1 $l2")
    assert(math.abs(math.abs(v1(0)) - math.sqrt(0.5)) < 1e-6 &&
      math.abs(v1(0) - v1(1)) < 1e-6, s"v1 ${v1.toSeq}")
    assert(math.abs(v1(0) * v2(0) + v1(1) * v2(1)) < 1e-6, "axes orthogonal")
  }

  test("ivfRebalance splits exactly the oversized cell along its planted " +
      "subclusters; untouched cells keep their files byte-for-byte") {
    import java.nio.file.{Files, Paths}
    // Three planted clusters; cluster 0 is DOUBLE-sized and itself
    // made of two separable subclusters (axes 0 and 3) — the shape a
    // skewed ingest leaves behind. c=3 training files both subclusters
    // under one hot cell; rebalance must split that cell in two along
    // the planted subclusters and touch nothing else.
    // A and B lean 0.3 toward each other (cos(A,B) ≈ 0.55) while both
    // are orthogonal to clusters 1 and 2 — so c=3 training MUST file
    // A∪B together, and 2-means still separates them cleanly.
    val vecs = (0L until 200L).map { id =>
      val v = Array.fill(8)(0f)
      val jitter = 0.05f * ((id % 5).toInt - 2)
      if (id < 50) { v(0) = 1f; v(3) = 0.3f; v(4) = jitter }  // sub A
      else if (id < 100) { v(3) = 1f; v(0) = 0.3f; v(5) = jitter } // sub B
      else if (id < 150) { v(1) = 1f; v(6) = jitter }         // cluster 1
      else { v(2) = 1f; v(7) = jitter }                       // cluster 2
      (id, v.toSeq)
    }.toDF("vec_id", "embedding")
    val cents = Similarity.ivfTrain(vecs, c = 3, iters = 3)
    val path = graft.lake.Lake.scratchDir("ivfreb_spec") + "/index"
    Similarity.ivfWriteIndex(vecs, cents, path)
    val hotIds = spark.read.parquet(path)
      .select($"vec_id", $"cell").as[(Long, Int)].collect()
      .groupBy(_._2).maxBy(_._2.length)
    val hot = hotIds._1
    assert(hotIds._2.map(_._1).toSet == (0L until 100L).toSet,
      s"A∪B should share one cell; cell $hot holds ${hotIds._2.length}")
    def listingExcept(ex: Set[Int]): Map[String, Long] = {
      val root = Paths.get(path)
      val st = Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.filter(Files.isRegularFile(_))
          .map(p => (root.relativize(p).toString, Files.size(p)))
          .filterNot { case (rel, _) =>
            ex.exists(e => rel.startsWith(s"cell=$e/")) }
          .toMap
      } finally st.close()
    }
    val before = listingExcept(Set(hot))
    val cents2 = Similarity.ivfRebalance(spark, path, cents,
      maxCellRows = 60)
    val newIds = cents2.map(_._1).toSet -- cents.map(_._1).toSet
    assert(newIds.size == 2 && !cents2.exists(_._1 == hot),
      "hot id retired, two sub-cells added")
    assert(listingExcept(Set(hot) ++ newIds) == before,
      "untouched cell files changed")
    // the two sub-cells partition the planted subclusters exactly
    val filed = spark.read.parquet(path)
      .filter($"cell".isin(newIds.toSeq: _*))
      .select($"vec_id", $"cell").as[(Long, Int)].collect()
    assert(filed.length == 100)
    val bySub = filed.groupBy(_._1 < 50).view.mapValues(_.map(_._2).toSet)
    assert(bySub(true).size == 1 && bySub(false).size == 1 &&
      bySub(true) != bySub(false),
      s"subclusters not separated: $bySub")
    // idempotence: nothing oversized remains, table unchanged
    assert(Similarity.ivfRebalance(spark, path, cents2, 60) == cents2)
  }

  test("ivfRebalance recovery rolls back a split that died mid-swap " +
      "and rolls forward one that only missed cleanup") {
    import java.nio.file.{Files, Paths}
    val emb = Tables.load(spark, sf, "embeddings")
    val cents = Similarity.ivfTrain(emb, c = 8, iters = 1)
    val path = graft.lake.Lake.scratchDir("ivfreb_crash") + "/index"
    Similarity.ivfWriteIndex(emb, cents, path)
    val before = spark.read.parquet(path).select("vec_id").as[Long]
      .collect().toSet
    val cell = spark.read.parquet(path).select("cell").distinct()
      .as[Int].collect().min
    // Crash window 1 (mid-swap): old cell moved aside, marker present,
    // sub-cells never landed — recovery must restore the old cell.
    val aside = Paths.get(path + "_rebalance_old")
    Files.createDirectories(aside)
    Files.move(Paths.get(path, s"cell=$cell"), aside.resolve(s"cell=$cell"))
    Files.writeString(Paths.get(path + "_rebalance_inprogress"),
      s"$cell:900,901")
    intercept[IllegalArgumentException](
      Similarity.ivfReadIndex(spark, path)) // serving must refuse
    intercept[IllegalArgumentException]( // and so must a search
      Similarity.ivfSearchIndex(spark, path, emb.filter($"vec_id" < 3),
        cents, k = 3, nprobe = 2))
    val healed = Similarity.ivfRebalance(spark, path, cents,
      maxCellRows = Long.MaxValue) // no split work: pure recovery
    assert(healed == cents)
    assert(spark.read.parquet(path).select("vec_id").as[Long]
      .collect().toSet == before, "rollback lost rows")
    assert(!Files.exists(Paths.get(path + "_rebalance_inprogress")))
    assert(!Files.isDirectory(aside))
  }
}
