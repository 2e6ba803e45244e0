package graft.ext

import scala.jdk.CollectionConverters._
import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.{SparkSpec, Tables}
import graft.functions.SimHash64.simhash64

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val fixture = Seq(
    (1L, "the quick brown fox jumps over the lazy dog tonight again"),
    (2L, "the quick brown fox jumps over the lazy dog tonight again"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog tonight again okay"), // near dup
    (4L, "completely different words about spark catalyst optimizer plans here"),
  ).toDF("doc_id", "text")

  test("exactDedup keeps the lowest id per duplicate group") {
    val kept = Dedup.exactDedup(fixture, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L, 4L))
  }

  test("bloom prefilter has no false negatives and the probe matches putString") {
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(1000, 0.01)
    val keys = (0 until 1000).map(i => s"key_$i")
    keys.foreach(bloom.putString)
    val df = keys.toDF("k")
    val present = df.filter(
      graft.functions.BloomMightContain.bloomMightContain($"k", bloom))
    assert(present.count() == 1000, "a put key must always probe true")
    // unseen keys mostly probe false (fpp = 1% → allow generous slack)
    val unseen = (0 until 1000).map(i => s"other_$i").toDF("k")
    val fps = unseen.filter(
      graft.functions.BloomMightContain.bloomMightContain($"k", bloom)).count()
    assert(fps <= 100, s"false-positive rate implausibly high: $fps/1000")
  }

  test("bloomIngestFilter equals the plain anti-join and actually prunes") {
    val corpus = fixture.filter($"doc_id" <= 2)
    val batch = fixture.filter($"doc_id" >= 2) // 2 = true dup of corpus
    val admitted = Dedup.bloomIngestFilter(corpus, batch, "text",
        expectedItems = 100L, fpp = 0.01)
      .select("doc_id").as[Long].collect().sorted
    assert(admitted.toSeq == Seq(3L, 4L), s"got ${admitted.toSeq}")
    // the prefilter really diverts bloom-negative rows around the join:
    // novel docs probe false (no corpus digest collides at fpp=1%)
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
    corpus.select(sha2($"text", 256)).as[String].collect()
      .foreach(bloom.putString)
    val directAdmits = batch.withColumn("_d", sha2($"text", 256))
      .filter(!graft.functions.BloomMightContain.bloomMightContain($"_d", bloom))
      .count()
    assert(directAdmits == 2, "both novel docs should bypass the exact join")
  }

  test("minhash LSH finds the near-dup pair and nothing else") {
    val pairs = Dedup.minhashNearDupPairs(
      fixture.filter($"doc_id" =!= 2), "doc_id", "text",
      shingleN = 3, k = 64, bands = 16, threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 3L)))
  }

  test("ngramJaccardPairs exactly reproduces the all-pairs answer") {
    val docs = Tables.load(spark, sf, "documents")
    val sets = docs.select($"doc_id".as("id"),
      Dedup.shingles($"text", 3).as("sh")).filter(size($"sh") > 0)
    val exact = sets.as("x").join(sets.as("y"), $"x.id" < $"y.id")
      .withColumn("j",
        size(array_intersect($"x.sh", $"y.sh")).cast("double") /
          size(array_union($"x.sh", $"y.sh")))
      .filter($"j" >= 0.75)
      .select($"x.id".as("a"), $"y.id".as("b"), round($"j", 4).as("jaccard"))
      .as[(Long, Long, Double)].collect().toSet
    val viaPrefix = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleN = 3, threshold = 0.75)
      .as[(Long, Long, Double)].collect().toSet
    assert(exact.nonEmpty, "corpus should contain trigram-Jaccard pairs")
    assert(viaPrefix == exact,
      s"prefix-filter path diverged: missing=${exact diff viaPrefix} extra=${viaPrefix diff exact}")
  }

  test("minhash LSH recall: every exact J>=0.8 pair in documents is found") {
    val docs = Tables.load(spark, sf, "documents")
    val sets = docs.select($"doc_id".as("id"),
      Dedup.shingles($"text", 3).as("sh"))
    val exact = sets.as("x").join(sets.as("y"), $"x.id" < $"y.id")
      .withColumn("j",
        size(array_intersect($"x.sh", $"y.sh")).cast("double") /
          size(array_union($"x.sh", $"y.sh")))
      .filter($"j" >= 0.8)
      .select($"x.id".as("a"), $"y.id".as("b"))
      .as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
      shingleN = 3, k = 64, bands = 16, threshold = 0.8)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "corpus should contain natural near-dups")
    assert(exact == lsh, s"missed=${exact -- lsh} extra=${lsh -- exact}")
  }

  test("simhash: identical texts distance 0, near texts close, unrelated far") {
    val fps = fixture.select($"doc_id",
      simhash64(Dedup.shingles($"text", 3)).as("fp"))
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(fps(a) ^ fps(b))
    assert(ham(1, 2) == 0)
    assert(ham(1, 3) <= 16, s"near pair too far: ${ham(1, 3)}")
    assert(ham(1, 4) > 16, s"unrelated pair too close: ${ham(1, 4)}")
  }

  test("simhash banding: pigeonhole recall within radius, linear candidate budget") {
    val docs = Tables.load(spark, sf, "documents")
    val n = docs.count()
    val cand = Dedup.simhashCandidates(docs, "doc_id", "text").cache()
    // every pair the exact refinement keeps must come out of banding —
    // verified against the fingerprints directly: any (a,b) with
    // Hamming <= 11 must be a candidate (pigeonhole guarantee).
    val fps = docs.select($"doc_id".as("id"),
      simhash64(Dedup.shingles($"text", 3)).as("fp"))
    val within = fps.as("x").join(fps.as("y"), $"x.id" < $"y.id")
      .select($"x.id".as("a"), $"y.id".as("b"),
        bit_count($"x.fp".bitwiseXOR($"y.fp")).as("h"))
      .filter($"h" <= 11)
    val missed = within.join(cand.select("a", "b"), Seq("a", "b"), "left_anti").count()
    assert(missed == 0, s"banding missed $missed pairs inside the Hamming-11 radius")
    val nCand = cand.count()
    info(f"simhash candidates: $nCand over n=$n docs (${nCand / n.toDouble}%.1f per doc)")
    assert(nCand <= 64 * n, s"candidate volume $nCand exceeds 64*n linear budget")
  }

  test("jaccard_sim native kernel agrees with the array_intersect/union spelling") {
    val sets = Tables.load(spark, sf, "documents").limit(200)
      .select($"doc_id", Dedup.shingles($"text", 3).as("sh"))
    val pairs = sets.as("a").join(sets.as("b"), $"a.doc_id" < $"b.doc_id")
      .limit(5000)
      .select(
        graft.functions.JaccardSim.jaccardSim($"a.sh", $"b.sh").as("native"),
        (size(array_intersect($"a.sh", $"b.sh")).cast("double") /
          size(array_union($"a.sh", $"b.sh"))).as("builtin"))
      .as[(Double, Double)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (n, b) =>
      assert(n == b || (n.isNaN && b.isNaN), s"$n != $b")
    }
    // SQL registration + empty-empty NaN parity with the builtin form
    val viaSql = spark.sql(
      "SELECT jaccard_sim(array('a','b'), array('b','c')) AS j").head().getDouble(0)
    assert(math.abs(viaSql - 1.0 / 3.0) < 1e-12)
    assert(spark.sql("SELECT jaccard_sim(array(), array()) AS j")
      .head().getDouble(0).isNaN)
  }

  test("simhash64 is registered for SQL via GraftExtensions") {
    val v = spark.sql("SELECT simhash64(array('a','b','c')) AS h")
      .head().getLong(0)
    val v2 = Seq(Tuple1(Seq("a", "b", "c"))).toDF("t")
      .select(simhash64($"t")).head().getLong(0)
    assert(v == v2, "SQL registration and Column API agree")
  }

  test("minhash_sig and hyperplane_sig are registered for SQL via GraftExtensions") {
    val mhSql = spark.sql("SELECT minhash_sig(array('a','b','c'), 8) AS s")
      .head().getSeq[Long](0)
    val mhCol = Seq(Tuple1(Seq("a", "b", "c"))).toDF("t")
      .select(graft.functions.MinHashSig.minhashSig($"t", 8))
      .head().getSeq[Long](0)
    assert(mhSql == mhCol && mhSql.length == 8)
    val hpSql = spark.sql(
      "SELECT hyperplane_sig(array(1.0D, -2.0D, 0.5D), 16, 7) AS h")
      .head().getLong(0)
    val hpCol = Seq(Tuple1(Seq(1.0, -2.0, 0.5))).toDF("v")
      .select(graft.functions.HyperplaneSig.hyperplaneSig($"v", 16, 7L))
      .head().getLong(0)
    assert(hpSql == hpCol)
  }

  test("connectedComponents merges transitively and keeps components apart") {
    // chain 1-2-3 (no direct 1-3 edge) + disjoint pair 10-11 + a
    // second chain hitting the min-label from the far end
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L), (7L, 8L), (8L, 9L), (9L, 6L))
      .toDF("a", "b")
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L,
      6L -> 6L, 7L -> 6L, 8L -> 6L, 9L -> 6L), s"got $got")
  }

  /** A session whose broadcast budget is off, so connectedComponents
    * skips its local finish and runs the distributed rounds. */
  private lazy val distributed: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s
  }

  /** `df`'s rows as a local relation of the forced-distributed session. */
  private def onDistributed(df: DataFrame): DataFrame =
    distributed.createDataFrame(df.collect().toSeq.asJava, df.schema)

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LocalRelation]

  private def toMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** The local finish and the distributed rounds over the same pairs. */
  private def bothWays(pairs: DataFrame): (DataFrame, DataFrame) = {
    val local = Dedup.connectedComponents(pairs)
    val rounds = Dedup.connectedComponents(onDistributed(pairs))
    assert(isLocal(local) && !isLocal(rounds),
      "expected a local finish and a distributed run")
    (local, rounds)
  }

  test("connectedComponents fails loudly when maxIter is too small") {
    val chain = onDistributed((1L until 6L).map(i => (i, i + 1)).toDF("a", "b"))
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 1)
    }
  }

  test("star contraction converges on a planted path far under its diameter") {
    // Path 0-1-2-...-63: diameter 63, so a label propagation that moves
    // the min one hop a round would need 63 rounds. Large-star/small-
    // star halves star-forest height every round — a 12-round budget is
    // plenty, and the result is exact: every node lands in component 0.
    val path = onDistributed((0L until 63L).map(i => (i, i + 1)).toDF("a", "b"))
    val got = toMap(Dedup.connectedComponents(path, maxIter = 12))
    assert(got.size == 64 && got.values.forall(_ == 0L), s"got $got")
  }

  test("local finish matches star contraction on a mixed graph") {
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L), (7L, 8L), (8L, 9L),
      (9L, 6L), (5L, 5L)).toDF("a", "b") // includes a self-loop
    val (local, rounds) = bothWays(pairs)
    val (uf, star) = (toMap(local), toMap(rounds))
    assert(star == uf, s"star $star vs union-find $uf")
    assert(star(5L) == 5L) // self-loop node keeps its own component
  }

  test("local finish matches star contraction on a chain and a clique") {
    // A 7-node chain (one hop per round for label propagation) plus an
    // 8-clique (the quasi-clique shape of near-dup clusters) in one
    // edge set — both paths must agree node-for-node.
    val chain = (0L until 6L).map(i => (i, i + 1))
    val clique = for { i <- 0L until 8L; j <- (i + 1) until 8L }
      yield (i + 100L, j + 100L)
    val (local, rounds) = bothWays((chain ++ clique).toDF("a", "b"))
    val (uf, star) = (toMap(local), toMap(rounds))
    assert(star == uf, s"star $star vs union-find $uf")
    assert((0L to 6L).forall(uf(_) == 0L), s"chain labels: $uf")
    assert((100L to 107L).forall(uf(_) == 100L), s"clique labels: $uf")
  }

  /** Random edge lists: randomly relabelled chains (the deep case for
    * the rounds) and cliques, random extra edges, self-loops, duplicate
    * and reversed pairs, and, in some lists, pairs with a null endpoint. */
  private val edgeLists: Gen[Seq[(Option[Long], Option[Long])]] = for {
    chains <- Gen.listOfN(3, Gen.chooseNum(1, 40))
    cliques <- Gen.listOfN(3, Gen.chooseNum(2, 8))
    extra <- Gen.chooseNum(0, 20)
    nulls <- Gen.oneOf(true, false)
    seed <- Gen.long
  } yield {
    val rnd = new scala.util.Random(seed)
    var n = 0
    def fresh(k: Int): Seq[Int] = { val ids = n until n + k; n += k; ids }
    val shaped = chains.flatMap { k => val ids = fresh(k + 1); ids.zip(ids.tail) } ++
      cliques.flatMap { k =>
        val ids = fresh(k)
        for { i <- ids; j <- ids if i < j } yield (i, j)
      }
    val span = n + 5 // extra edges may reach ids no shape uses
    val edges = shaped ++ Seq.fill(extra)((rnd.nextInt(span), rnd.nextInt(span)))
    val label = rnd.shuffle((0 until span).toVector).map(i => i * 3L - 50L)
    val pairs = edges.map { case (a, b) => (label(a), label(b)) }
    val loops = Seq.fill(3)(label(rnd.nextInt(span))).map(x => (x, x))
    val dups = rnd.shuffle(pairs).take(5)
    val reversed = rnd.shuffle(pairs).take(5).map(_.swap)
    val withNull =
      if (nulls) Seq((Some(label(0)), None), (None, Some(label(1))), (None, None))
      else Nil
    rnd.shuffle((pairs ++ loops ++ dups ++ reversed)
      .map { case (a, b) => (Option(a), Option(b)) } ++ withNull)
  }

  test("property: local finish equals the distributed rounds on random " +
      "edge lists") {
    (1L to 5L).foreach { i =>
      val sample = edgeLists.pureApply(Gen.Parameters.default, Seed(i))
      // Odd samples carry an int-typed `a`: the result's id type is
      // the widened type on both paths.
      val df = sample.toDF("a", "b")
      val pairs = if (i % 2 == 1) df.withColumn("a", $"a".cast("int")) else df
      val (local, rounds) = bothWays(pairs)
      assert(local.schema == rounds.schema,
        s"seed $i: schema ${local.schema} vs ${rounds.schema}")
      val (uf, star) = (local.collect().toSeq.map(_.toString).sorted,
        rounds.collect().toSeq.map(_.toString).sorted)
      assert(uf == star, s"seed $i: union-find $uf vs star $star")
    }
  }

  test("connectedComponents on a small graph runs at most 2 jobs once " +
      "its pairs exist") {
    val chain = (0L until 30L).map(i => (i, i + 1))
    val clique = for { i <- 0L until 8L; j <- (i + 1) until 8L }
      yield (i + 100L, j + 100L)
    val pairs = (chain ++ clique).toDF("a", "b").localCheckpoint(eager = true)
    val forced = onDistributed(pairs)
    val sc = spark.sparkContext
    def jobsOf(body: => Unit): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger
      val counter = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          n.incrementAndGet()
      }
      TestListenerBus.drain(sc)
      sc.addSparkListener(counter)
      try { body; TestListenerBus.drain(sc) }
      finally sc.removeSparkListener(counter)
      n.get
    }
    val local = jobsOf(Dedup.connectedComponents(pairs).collect())
    val rounds = jobsOf(Dedup.connectedComponents(forced).collect())
    assert(local <= 2, s"local finish ran $local jobs")
    // The counter sees the distributed rounds it replaces.
    assert(rounds > 10, s"distributed rounds ran only $rounds jobs")
  }

  test("connectedComponentsIncremental: a delta merges two existing " +
      "clusters, joins one, creates one — and equals a full recompute") {
    // Old graph: cluster {1,2,3}, cluster {10,11}, cluster {20,21},
    // cluster {30,31}; node 40 exists but has never been in a pair
    // (so it carries no label yet).
    val oldPairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L),
      (30L, 31L)).toDF("a", "b")
    val oldLabels = Dedup.connectedComponents(oldPairs)
    // Delta (every edge touches a batch doc ≥ 100): new doc 100
    // bridges clusters {1,2,3} and {10,11} — the MERGE case; 101
    // joins {20,21}; 102-103 form a brand-new cluster; 104 pairs with
    // old node 40, whose first-ever pair this is.
    val delta = Seq((2L, 100L), (10L, 100L), (21L, 101L), (102L, 103L),
      (40L, 104L)).toDF("a", "b")
    val inc = toMap(
      Dedup.connectedComponentsIncremental(oldLabels, delta))
    val full = toMap(
      Dedup.connectedComponents(oldPairs.unionByName(delta)))
    assert(inc == full, s"incremental $inc vs full recompute $full")
    // The merge actually happened: both old clusters and the bridge
    // share the merged component's min id.
    assert(inc(10L) == 1L && inc(11L) == 1L && inc(100L) == 1L)
    // Join, new-cluster, and first-pair-old-node cases.
    assert(inc(101L) == 20L)
    assert(inc(102L) == 102L && inc(103L) == 102L)
    assert(inc(40L) == 40L && inc(104L) == 40L)
    // The untouched cluster kept its label.
    assert(inc(30L) == 30L && inc(31L) == 30L)
  }

  test("ngramJaccardPairsAgainst equals the symmetric join restricted " +
      "to probe-touching pairs, and emits no base-base pairs") {
    val base = fixture // ids 1..4
    val probe = Seq(
      (101L, "the quick brown fox jumps over the lazy dog tonight again"),
      (102L, "completely different words about spark catalyst optimizer plans here"),
      (103L, "nothing in common with anything else at all whatsoever today"),
      (104L, "nothing in common with anything else at all whatsoever today"),
    ).toDF("doc_id", "text")
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val asym = toSet(Dedup.ngramJaccardPairsAgainst(
      base, probe, "doc_id", "text", shingleN = 3, threshold = 0.75))
    val sym = toSet(Dedup.ngramJaccardPairs(
      base.unionByName(probe), "doc_id", "text",
      shingleN = 3, threshold = 0.75)
      .filter($"b" >= 101L)) // canonical a<b ⇒ probe-touching ⇔ b is probe
    assert(asym == sym, s"asym $asym vs sym-restricted $sym")
    assert(asym.exists { case (a, b, _) => a <= 4L && b >= 101L },
      "must find base-probe pairs")
    assert(asym.exists { case (a, b, _) => a >= 101L && b >= 101L },
      "must find probe-probe pairs")
    assert(asym.forall { case (_, b, _) => b >= 101L },
      "b side must always be a probe id")
  }

  test("incrementalDedup admits novel docs, rejects exact and near dups of old") {
    val old = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight again"),
      (2L, "completely different words about spark catalyst optimizer plans here"),
    ).toDF("doc_id", "text")
    val fresh = Seq(
      (101L, "the quick brown fox jumps over the lazy dog tonight again"), // exact dup of old 1
      (102L, "the quick brown fox jumps over the lazy dog tonight again okay"), // near dup of old 1
      (103L, "entirely novel content that resembles nothing in the corpus today"),
      (104L, "entirely novel content that resembles nothing in the corpus today"), // exact dup of fresh 103
      (105L, "entirely novel content that resembles nothing in the corpus today yes"), // near dup of fresh 103
    ).toDF("doc_id", "text")
    val kept = Dedup.incrementalDedup(old, fresh, "doc_id", "text",
      shingleN = 3, k = 64, bands = 16, threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(103L))
  }

  test("lshAdmitAgainstSignatures equals incrementalDedup row-for-row " +
      "(seeded corpora) and a tombstoned id stops rejecting") {
    for (seed <- Seq(7, 19)) {
      val rnd = new scala.util.Random(seed)
      val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
        "zeta", "eta", "theta")
      def text() = Seq.fill(8 + rnd.nextInt(8))(
        vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val old = (1L to 40L).map(i => (i, text())).toDF("doc_id", "text")
      val fresh = (101L to 140L).map { i =>
        // mix: novel, exact dups of old, near dups (one-token append)
        val base = if (i % 3 == 0) text()
        else old.collect()(rnd.nextInt(40)).getString(1)
        (i, if (i % 5 == 0) base + " omega" else base)
      }.toDF("doc_id", "text")
      // incrementalDedup admits over an in-memory lshSignatureTable;
      // this side round-trips the table through the cell-partitioned
      // parquet write and the merge-on-read scan.
      val path = graft.lake.Lake.scratchDir("lshadmit_spec") + "/sigs"
      Dedup.lshWriteSignatures(old, "doc_id", "text", 3, 64, path)
      val viaTable = Dedup.lshAdmitAgainstSignatures(
        graft.ext.Similarity.ivfReadIndex(spark, path, idCol = "id"),
        fresh, "doc_id", "text", 3, 64, 16, 0.5)
        .select("doc_id").as[Long].collect().sorted.toSeq
      val direct = Dedup.incrementalDedup(old, fresh, "doc_id", "text",
        shingleN = 3, k = 64, bands = 16, threshold = 0.5)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(viaTable == direct, s"seed $seed: persisted-table admission " +
        s"diverged from the in-memory table: $viaTable vs $direct")
      assert(direct.nonEmpty && direct.size < 40,
        s"seed $seed: admission must both admit and reject: $direct")
    }
    // deletes end-to-end on a tiny corpus: doc 1's exact dup is
    // rejected until doc 1 is tombstoned, then admitted
    val old = Seq(
      (1L, "one two three four five six seven eight nine ten"),
      (2L, "totally unrelated content words appear in this row here")
    ).toDF("doc_id", "text")
    val fresh = Seq(
      (101L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val path = graft.lake.Lake.scratchDir("lshdel_spec") + "/sigs"
    Dedup.lshWriteSignatures(old, "doc_id", "text", 3, 64, path)
    def admit() = Dedup.lshAdmitAgainstSignatures(
      graft.ext.Similarity.ivfReadIndex(spark, path, idCol = "id"),
      fresh, "doc_id", "text", 3, 64, 16, 0.5)
      .select("doc_id").as[Long].collect().toSeq
    assert(admit() == Seq(), "exact dup of a live doc must be rejected")
    graft.ext.Similarity.ivfDelete(
      Seq(1L).toDF("doc_id"), path, idCol = "id")
    assert(admit() == Seq(101L),
      "after the forget request the dup's only rejector is gone")
  }

  test("minhashNearDupPairsAgainst never emits base-base pairs") {
    val sets = Seq(
      (1L, "a b c d e f g h"), (2L, "a b c d e f g h"),
      (3L, "a b c d e f g x")
    ).toDF("doc_id", "text")
      .select($"doc_id".as("id"), Dedup.shingles($"text", 3).as("sh"))
    val base = sets
    val probe = sets.filter($"id" === 3L)
    val pairs = Dedup.minhashNearDupPairsAgainst(base, probe,
      k = 64, bands = 16, threshold = 0.3)
      .select("a", "b").as[(Long, Long)].collect().toSet
    // 1-2 is an identical base pair — must NOT appear; only *-3 pairs may.
    assert(pairs.forall(_._2 == 3L), s"got $pairs")
    assert(pairs.map(_._1).subsetOf(Set(1L, 2L)))
    assert(pairs.nonEmpty)
  }

  test("editDistancePairs equals brute force, incl. edge-case strings") {
    val rows = Seq(
      (1L, "red bolt", "B1"), (2L, "red bolts", "B1"),   // dist 1
      (3L, "rad bolts", "B1"),                           // 2↔3 dist 1, 1↔3 dist 2
      (4L, "red bolt", "B2"),                            // other block: no cross pair
      (5L, "", "B1"), (6L, "a", "B1"), (7L, "ab", "B1"), // short strings
      (8L, "naïve café", "B1"), (9L, "naive cafe", "B1"),// unicode, dist 2
      (10L, "completely different", "B1"))
    val df = rows.toDF("id", "name", "blk")
    val got = Dedup.editDistancePairs(df, "id", "name", "blk", maxDist = 2)
      .select("key_a", "key_b", "dist").as[(Long, Long, Int)]
      .collect().toSet
    val brute = (for {
      (ia, sa, ba) <- rows; (ib, sb, bb) <- rows
      if ia < ib && ba == bb
      d = {
        val (x, y) = (sa, sb)
        val dp = Array.tabulate(x.length + 1)(i => Array.tabulate(y.length + 1)(j =>
          if (i == 0) j else if (j == 0) i else 0))
        for (i <- 1 to x.length; j <- 1 to y.length)
          dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
            dp(i - 1)(j - 1) + (if (x(i - 1) == y(j - 1)) 0 else 1))
        dp(x.length)(y.length)
      }
      if d <= 2
    } yield (ia, ib, d)).toSet
    assert(got == brute, s"got $got\nbrute $brute")
  }

  test("editDistancePairs completes on a degenerate one-bucket block") {
    // Worst case for deletion-neighborhood blocking: EVERY length-≤2
    // string contains "" in its ≤2-deletion neighborhood, so all n rows
    // land in one (blk, h) variant bucket and the candidate set is the
    // full n²/2. The (blk,h) self-join streams that volume through the
    // join's spillable match buffer — this spec pins that the operator
    // COMPLETES (the old collect_set pairing built all pairs in one
    // aggregation row and was capped at 4096 ids) and stays EXACT: any
    // two strings of length ≤ 2 are within Levenshtein distance 2, so
    // the answer is precisely C(n, 2).
    val alphabet = ('a' to 'z').map(_.toString)
    val strs = (alphabet ++ (for (x <- alphabet; y <- alphabet) yield x + y))
      .take(500)
    val df = strs.zipWithIndex
      .map { case (s, i) => (i.toLong, s, "B1") }
      .toDF("id", "name", "blk")
    val n = strs.size.toLong
    val got = Dedup.editDistancePairs(df, "id", "name", "blk", maxDist = 2)
    assert(got.count() == n * (n - 1) / 2)
  }

  test("jaroWinklerPairs plan: the char-bag filter gates the JW scorer") {
    // The 4.5× win depends on a plan shape: char_bag_overlap must sit
    // in the JOIN (as its condition, evaluated per candidate pair
    // before any jaro_winkler), not in a Filter above a fully
    // materialized scored join. Catalyst keeps the filter in the join
    // condition because it references both sides of an inner join —
    // pin that so a refactor can't silently move the O(l²) work first.
    val df = Seq((1L, "alpha beam", "B1"), (2L, "alpha beet", "B1"),
      (3L, "zz", "B1")).toDF("id", "name", "blk")
    val q = Dedup.jaroWinklerPairs(df, "id", "name", "blk", 0.88)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString()
    val joinIdx = plan.indexOf("Join")
    val bagIdx = plan.indexOf("char_bag_overlap")
    val jwIdx = plan.indexOf("jaro_winkler")
    assert(joinIdx >= 0 && bagIdx >= 0 && jwIdx >= 0, s"nodes missing:\n$plan")
    // the bag filter appears with the join; the JW projection is a
    // separate, later (higher) node — i.e. printed BEFORE the join in
    // Spark's top-down plan rendering
    assert(jwIdx < bagIdx,
      s"jaro_winkler should be computed above the bag-filtered join:\n$plan")
  }

  test("repeatedNgramSpans finds cross-doc spans and counts internal repeats") {
    val docs = Seq(
      (1L, "a b c d e f g h x"),          // span at start
      (2L, "z a b c d e f g h"),          // same span shifted
      (3L, "q w e r t y u i"),            // unique 8-gram, must not appear
      (4L, "a b c d e f g h a b c d e f g h"), // span twice internally
      (5L, "short doc")                   // < 8 words, no grams at all
    ).toDF("doc_id", "text")
    val got = Dedup.repeatedNgramSpans(docs, "doc_id", "text",
      n = 8, minDocs = 2, k = 10).collect()
    assert(got.length == 1, s"only one shared span, got ${got.length}")
    val r = got.head
    assert(r.getAs[String]("gram") == "a b c d e f g h")
    assert(r.getAs[Long]("n_docs") == 3L, "docs 1, 2, 4 share it")
    assert(r.getAs[Long]("n_occ") == 4L, "doc 4 holds it twice")
  }

  test("substringDupCoverage merges overlapping spans and zeros clean docs") {
    // docs 1/2 share BOTH 3-grams "a b c" and "b c d": doc 1 gets spans
    // [1,3] and [2,4], which must union to 4 covered tokens (not 6).
    val docs = Seq(
      (1L, "a b c d z1 z2 z3"),          // spans [1,3],[2,4] → 4 of 7
      (2L, "q1 a b c d q2 q3"),          // spans [2,4],[3,5] → 4 of 7
      (3L, "p q r s t u v"),             // clean → 0 of 7
      (4L, "x y"),                       // shorter than n → 0 of 2
    ).toDF("doc_id", "text")
    val got = Dedup.substringDupCoverage(docs, "doc_id", "text",
        n = 3, minDocs = 2)
      .select("doc_id", "n_tokens", "n_dup_spans", "dup_tokens")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 7L, 2L, 4L),
      (2L, 7L, 2L, 4L),
      (3L, 7L, 0L, 0L),
      (4L, 2L, 0L, 0L)), s"got $got")
  }

  test("substringDedupTrim removes covered tokens and keeps order") {
    val docs = Seq(
      (1L, "a b c d z1 z2 z3"),          // covered [1,4] → "z1 z2 z3"
      (2L, "q1 a b c d q2 q3"),          // covered [2,5] → "q1 q2 q3"
      (3L, "a b c d"),                   // fully covered → ""
    ).toDF("doc_id", "text")
    val got = Dedup.substringDedupTrim(docs, "doc_id", "text",
        n = 3, minDocs = 2)
      .select("doc_id", "n_kept", "n_removed", "trimmed")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, 3L, 4L, "z1 z2 z3"),
      (2L, 3L, 4L, "q1 q2 q3"),
      (3L, 0L, 4L, "")), s"got $got")
  }

  test("exactDupSpanPairs reports exact maximal lengths and recovers " +
      "spans the fixed-window pass misses") {
    val docs = Dedup.withPlantedSpans(
      Seq((1L, "filler one two three")).toDF("doc_id", "text"))
    val got = Dedup.exactDupSpanPairs(docs, "doc_id", "text",
        minLen = 6, k = 10)
      .select("doc_a", "doc_b", "a_start", "b_start", "len")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // the 23-token span: EXACT maximal extent, at each doc's offset
    // (doc 900001 plants it after 3 tokens, doc 900002 after 1)
    assert(got.contains((900001L, 900002L, 4L, 2L, 23L)), s"got $got")
    // the 7-token span, shorter than the 8-gram window, exact length 7
    assert(got.contains((900003L, 900004L, 3L, 2L, 7L)), s"got $got")
    assert(got.size == 2, s"no spurious spans expected, got $got")
    // the fixed 8-gram pass is BLIND to the 7-token span (why the
    // exact variant exists): docs 900003/900004 report zero coverage
    val cov = Dedup.substringDupCoverage(docs, "doc_id", "text",
        n = 8, minDocs = 2)
      .filter($"doc_id".isin(900003L, 900004L))
      .select("doc_id", "dup_tokens").as[(Long, Long)].collect().toSeq
    assert(cov.forall(_._2 == 0L), s"8-gram pass should miss it: $cov")
  }

  test("exactDupSpanPairs splits runs at a single-token mismatch") {
    // identical 20-token texts except token 10 differs → two maximal
    // runs: [1,9] (len 9) and [11,20] (len 10), nothing merged across
    val a = ((1 to 9) ++ Seq(100) ++ (11 to 20)).map("t" + _).mkString(" ")
    val b = ((1 to 9) ++ Seq(200) ++ (11 to 20)).map("t" + _).mkString(" ")
    val got = Dedup.exactDupSpanPairs(
        Seq((1L, a), (2L, b)).toDF("doc_id", "text"),
        "doc_id", "text", minLen = 6, k = 10)
      .select("a_start", "b_start", "len")
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(got == Seq((1L, 1L, 9L), (11L, 11L, 10L)), s"got $got")
  }

  test("substring family survives a degenerate one-digest corpus") {
    // 200 identical 50-token docs: every 8-gram window collapses onto
    // ONE digest (the hottest possible bucket) and every token is
    // covered — coverage must be total, trim must empty every doc, and
    // nothing materializes an all-pairs structure on the way.
    val docs = (1L to 200L).map(i => (i, Seq.fill(50)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val cov = Dedup.substringDupCoverage(docs, "doc_id", "text",
        n = 8, minDocs = 2)
      .agg(sum($"dup_tokens"), sum($"n_tokens"), min($"dup_frac"))
      .as[(Long, Long, Double)].head()
    assert(cov == ((10000L, 10000L, 1.0)), s"got $cov")
    val trimmed = Dedup.substringDedupTrim(docs, "doc_id", "text",
        n = 8, minDocs = 2)
      .agg(sum($"n_kept"), count(when($"trimmed" === "", 1)))
      .as[(Long, Long)].head()
    assert(trimmed == ((0L, 200L)), s"got $trimmed")
    // exactDupSpanPairs on the same corpus: 9000 occurrences collapse
    // onto ONE anchor digest, so the uncapped self-join would build
    // ~40M pairs — the per-digest maxOcc cap (keep-first by (doc_id,
    // s): all 45 anchors of doc 1, the first 19 of doc 2) bounds the
    // join to the 855 kept cross-doc combinations, and every reported
    // span stays on the only kept pair.
    val spans = Dedup.exactDupSpanPairs(docs, "doc_id", "text",
        minLen = 6, k = 40)
      .select("doc_a", "doc_b", "len").as[(Long, Long, Long)]
      .collect().toSeq
    assert(spans.nonEmpty && spans.forall {
      case (a, b, len) => a == 1L && b == 2L && len >= 6L
    }, s"capped degenerate spans: $spans")
  }

  test("trim removes exactly the tokens coverage counts (seeded corpora)") {
    // The two operators derive covered positions differently (interval
    // union sweep vs anti-joined token stream): per doc,
    // cov.dup_tokens must equal trim.n_removed on any corpus.
    for (seed <- Seq(11, 23, 47)) {
      val rnd = new scala.util.Random(seed)
      val vocab = Vector("a", "b", "c", "d", "e")
      val docs = (1L to 30L).map { i =>
        (i, Seq.fill(6 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
          .mkString(" "))
      }.toDF("doc_id", "text")
      val cov = Dedup.substringDupCoverage(docs, "doc_id", "text", 3, 2)
        .select("doc_id", "dup_tokens").as[(Long, Long)].collect().toMap
      val rem = Dedup.substringDedupTrim(docs, "doc_id", "text", 3, 2)
        .select("doc_id", "n_removed").as[(Long, Long)].collect().toMap
      assert(cov == rem, s"seed $seed: coverage and trim disagree")
    }
  }

  test("cdcChunks is shift-robust: a prefix insertion only perturbs the first chunk") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, base), (2L, s"inserted $base")).toDF("doc_id", "text")
    val ch = Dedup.cdcChunks(docs, "doc_id", "text")
      .select($"doc_id", $"cb", $"digest")
      .as[(Long, Long, String)].collect()
    val aChunks = ch.filter(_._1 == 1L).sortBy(_._2).map(_._3)
    val bDigests = ch.filter(_._1 == 2L).map(_._3).toSet
    assert(aChunks.length > 2, "fixture must produce several chunks")
    // every chunk of the original except the FIRST must survive the
    // prefix insertion verbatim — fixed-size blocking loses them all
    val tail = aChunks.drop(1)
    assert(tail.forall(bDigests.contains),
      s"shifted doc lost ${tail.count(!bDigests.contains(_))} of ${tail.length} tail chunks")
    // boundary words end their chunk: concatenating chunks in cb order
    // rebuilds the document exactly (losslessness)
    val rebuilt = Dedup.cdcChunks(docs.filter($"doc_id" === 1), "doc_id", "text")
      .orderBy($"cb").select($"chunk_text").as[String].collect().mkString(" ")
    assert(rebuilt == base, "chunks must tile the document losslessly")
  }

  test("Fellegi-Sunter linkage: weights sane, every true pair enumerated") {
    // Agreement weights positive, disagreement negative — the FS
    // log-likelihood shape; a sign flip silently inverts decisions.
    for ((wA, wD) <- Dedup.fsWeights) {
      assert(wA > 0, s"agreement weight $wA must be positive")
      assert(wD < 0, s"disagreement weight $wD must be negative")
    }
    val res = graft.SparkEntry.queries("e13_linkage")(spark, sf)
      .select($"decision", $"n_pairs", $"n_true")
      .as[(String, Long, Long)].collect()
    val nCust = Tables.load(spark, sf, "customer").count()
    // Blocking is on a name substring the corruption never touches, so
    // each record's true pair appears in EXACTLY one decision class.
    assert(res.map(_._3).sum == nCust,
      s"true pairs ${res.map(_._3).sum} != customers $nCust — blocking lost pairs")
    val link = res.find(_._1 == "link")
    assert(link.exists(_._3 > 0), "no true pairs classified as links")
    // custkey 0 disagrees on every field (0 ≡ 0 mod everything) — the
    // model must place at least that one in non_link.
    assert(res.find(_._1 == "non_link").exists(_._3 >= 1))
    // Mostly-clean records (phone/nation/seg/bal agree) must dominate:
    // links should carry the majority of true pairs.
    assert(link.exists(_._3 * 2 > nCust), "links should hold most true pairs")
  }

  test("lineDedupStats keeps the global first instance of each line") {
    val docs = Seq(
      (1L, "en", "alpha beta\nshared footer"),
      (2L, "en", "gamma delta\nshared footer"),
      (3L, "fr", "alpha beta\nshared footer"),
    ).toDF("doc_id", "lang", "text")
    val got = Dedup.lineDedupStats(docs, "doc_id", "lang", "text")
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5, r._6)).toMap
    // "alpha beta" first at (1,0); "shared footer" first at (1,1):
    // en removes doc2's footer (checksum 2·(1+1)=4); fr loses both of
    // doc3's lines (checksum 3·1 + 3·2 = 9) and keeps no chars.
    assert(got("en") == ((4L, 3L, 1L, 4L, 34L)), s"en ${got("en")}")
    assert(got("fr") == ((2L, 0L, 1L, 9L, 0L)), s"fr ${got("fr")}")
  }

  test("simhash64 codegen and interpreted paths agree") {
    val df = Tables.load(spark, sf, "documents").limit(50)
      .select(simhash64(split($"text", " ")).as("fp"))
    val withCodegen = df.as[Long].collect().toSeq
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interpreted = df.as[Long].collect().toSeq
      assert(withCodegen == interpreted)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("containmentPairs finds sub-documents incl. the exact-threshold " +
      "boundary the integer arithmetic exists for") {
    // doc 2 ("a b c d") ⊂ doc 1 ("a b c d e f"): C(2→1) = 2/2 = 1;
    // the reverse is 2/4 = 0.5 < 0.8 and must NOT surface.
    // docs 4/5: S(4) = 5 shingles, S(5) = 4 of them → C(4→5) = 4/5 =
    // 0.8 EXACTLY — a float-boundary pair (0.8·5 = 4.0000000000000004
    // in doubles) that the q·shared ≥ p·|A| integer predicate and the
    // integer prefix length must both keep.
    val docs = Seq(
      (1L, "a b c d e f"), (2L, "a b c d"), (3L, "x y z w"),
      (4L, "p q r s t u v"), (5L, "p q r s t u"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", "text", p = 4, q = 5)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (2L, 1L, 2L, 1.0), (4L, 5L, 5L, 0.8), (5L, 4L, 4L, 1.0)), got)
  }
}
