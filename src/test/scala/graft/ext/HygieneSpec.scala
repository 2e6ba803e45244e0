package graft.ext

import org.apache.spark.sql.functions._
import graft.SparkSpec

class HygieneSpec extends SparkSpec {
  import spark.implicits._

  test("piiRedact scrubs emails, phones, and IPv4 addresses") {
    val out = Seq(
      "write to jane.doe+x@mail-host.org or call 415-555-0199 now",
      "server 192.168.0.1 but version 1.2 stays and so does 1.2.3",
      "no pii here at all",
    ).toDF("text")
      .select(Hygiene.piiRedact($"text").as("r")).as[String].collect()
    assert(out(0) == "write to <EMAIL> or call <PHONE> now")
    assert(out(1) == "server <IP> but version 1.2 stays and so does 1.2.3")
    assert(out(2) == "no pii here at all")
  }

  test("redaction leaves zero residual matches on planted corpus") {
    val planted = Hygiene.withPlantedPii(
      graft.Tables.load(spark, sf, "documents"))
    val (em, ph, ip) = Hygiene.piiCounts(Hygiene.piiRedact($"text"))
    val residual = planted
      .agg(sum((em + ph + ip).cast("long"))).as[Long].head()
    assert(residual == 0L)
  }

  test("repetitionProfile computes the three signals exactly") {
    // "a b a b" → 4 words, 2 distinct (0.5), bigrams {a b, b a} of 3
    // (dup ratio 1 − 2/3 = 0.3333), top word 2/4 = 0.5.
    val df = Seq((1L, "a b a b"), (2L, "x y z")).toDF("doc_id", "text")
    val rows = Hygiene.repetitionProfile(df, "doc_id", "text")
      .as[(Long, Long, Double, Double, Double)].collect().toSeq
    assert(rows == Seq(
      (1L, 4L, 0.5, 0.3333, 0.5),
      (2L, 3L, 1.0, 0.0, 0.3333)))
  }

  test("topNgramFractions: per-n maxima, integer basis points, " +
      "singletons zeroed, overlap mass past 10000 bp pinned") {
    // "a b a b a b c": top 2-gram "a b"×3 → 6·10⁴/7 = 8571 bp;
    // top 3-gram ×2 → 8571; top 4-gram "a b a b"×2 overlaps itself →
    // 8·10⁴/7 = 11428 bp > 10⁴ (the DataTrove count·len spelling,
    // deliberate); "a a a": (a a)×2 → 13333, 3-gram singleton → 0;
    // "x" is shorter than every n → all zero.
    val df = Seq((1L, "a b a b a b c"), (2L, "a a a"), (3L, "x"))
      .toDF("doc_id", "text")
    val rows = Hygiene.topNgramFractions(df, "doc_id", "text")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(rows == Seq(
      (1L, 7L, 3L, 8571L, 2L, 8571L, 2L, 11428L),
      (2L, 3L, 2L, 13333L, 1L, 0L, 0L, 0L),
      (3L, 1L, 0L, 0L, 0L, 0L, 0L, 0L)), s"got $rows")
  }

  test("boilerplateProfile separates template text from original prose") {
    // "nav home about contact" shingles appear in 3 docs (df 3 > 2);
    // each doc's tail is unique.
    val docs = Seq(
      (1L, "nav home about contact unique alpha beta gamma"),
      (2L, "nav home about contact other delta epsilon zeta"),
      (3L, "nav home about contact more eta theta iota"),
      (4L, "entirely original words nothing shared with anyone else"),
    ).toDF("doc_id", "text")
    val got = Hygiene.boilerplateProfile(docs, "doc_id", "text")
      .select($"doc_id", $"boiler_frac").as[(Long, Double)].collect().toMap
    assert(got(4L) == 0.0)
    // docs 1-3 share exactly the 2 shingles fully inside the nav prefix
    assert(Seq(1L, 2L, 3L).forall(id => got(id) > 0.0 && got(id) < 1.0), s"$got")
  }

  test("blocklistAudit classifies source-block before term-block, once per doc") {
    val docs = Seq(
      (1L, "src3", "clean text but blocked source get freecoins"),
      (2L, "src1", "get freecoins today"),
      (3L, "src1", "perfectly fine prose"),
      (4L, "src2", "cast darkmagic now"),
    ).toDF("doc_id", "source", "text")
    val got = Hygiene.blocklistAudit(docs, "doc_id", "text", "source",
      Seq("src3"), Hygiene.BannedTermRe)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("src1", 2L, 0L, 1L, 1L, 3L),   // doc 2 term-blocked, doc 3 kept
      ("src2", 1L, 0L, 1L, 0L, 0L),   // doc 4 term-blocked
      ("src3", 1L, 1L, 0L, 0L, 0L)))  // source wins even with banned term
  }

  test("stratifiedSample keeps an exact per-stratum quota, deterministically") {
    val df = (0L until 100L).map(i => (i, if (i < 60) "a" else "b"))
      .toDF("id", "s")
    val kept = TrainPrep.stratifiedSample(df, "s", "id", 0.25)
    val sizes = kept.groupBy($"s").count().as[(String, Long)]
      .collect().toMap
    assert(sizes == Map("a" -> 15L, "b" -> 10L)) // ceil(.25·60), ceil(.25·40)
    val again = TrainPrep.stratifiedSample(df.repartition(7), "s", "id", 0.25)
    assert(kept.select("id").as[Long].collect().sorted.toSeq ==
      again.select("id").as[Long].collect().sorted.toSeq)
  }

  test("gopherRules flags each rule independently") {
    val prose = "the quick brown fox jumps over a lazy dog near " +
      "the quiet river bank and rests there until dusk falls again"  // 21 words
    val docs = Seq(
      (1L, prose),                                   // passes all three
      (2L, "the cat and dog"),                       // < 20 words, else fine
      (3L, Seq.fill(21)("xylophonewordlengthy").mkString(" ")), // mwl > 10
      (4L, Seq.fill(21)("word").mkString(" "))       // no stopwords
    ).toDF("doc_id", "text")
    val got = Hygiene.gopherRules(docs, "text", 20, 200)
      .select($"doc_id", $"ok_words", $"ok_mwl", $"ok_stop", $"keep")
      .as[(Long, Boolean, Boolean, Boolean, Boolean)]
      .collect().map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    assert(got(1L) == ((true, true, true, true)), s"got ${got(1L)}")
    assert(got(2L) == ((false, true, true, false)))
    assert(got(3L) == ((true, false, false, false)))
    assert(got(4L) == ((true, true, false, false)))
  }

  test("kAnonymityAudit flags only sub-k QI groups with exact shares") {
    // 5 docs share QI (en, srcA, bucket 1) — anonymous at k=5;
    // 2 docs share (fr, srcB, bucket 0) — flagged; 1 doc alone — flagged.
    val docs = (
      (1 to 5).map(i => (i.toLong, "en", "srcA", 150L)) ++
        Seq((6L, "fr", "srcB", 50L), (7L, "fr", "srcB", 99L),
          (8L, "de", "srcC", 420L))
      ).toDF("doc_id", "lang", "source", "n_chars")
    val risky = Hygiene.kAnonymityAudit(docs, k = 5)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq
    assert(risky == Seq(
      ("de", "srcC", 4L, 1L, 0.125),
      ("fr", "srcB", 0L, 2L, 0.25)), s"got $risky")
  }

  test("DP release adds exactly the rank-seeded Laplace noise") {
    val docs = graft.Tables.load(spark, sf, "documents")
    val exact = docs.groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n"))
      .select($"lang", $"source", $"n")
      .as[(String, String, Long)].collect()
      .sortBy(c => (c._1, c._2))
    // replicate the mechanism in plain Scala: rank seed → bin-center
    // uniform → inverse-CDF Laplace(b=2) → per-row round 6 → round 4
    val want = exact.zipWithIndex.map { case ((lang, src, n), i) =>
      val rk = (i + 1).toLong
      val u = ((rk % 2147483648L) * 2654435761L % 4294967296L) /
        4294967296.0 + 0.5 / 4294967296.0
      val noise = BigDecimal(-2.0 * math.signum(u - 0.5) *
        math.log(1 - 2 * math.abs(u - 0.5)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (lang, src) -> BigDecimal(n + noise)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
    val got = graft.SparkEntry.queries("e9_dp_release")(spark, sf)
      .as[(String, String, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got.keySet == want.keySet)
    for ((k, v) <- want)
      assert(math.abs(got(k) - v) < 1e-9, s"cell $k: got ${got(k)} want $v")
    // noise is non-degenerate: at least one cell moved off its exact count
    val moved = exact.count { case (l, s, n) => math.abs(got((l, s)) - n) > 1e-6 }
    assert(moved > 0, "every cell released exactly — noise not applied")
  }

  test("nfcClean composes accents, strips controls, collapses spaces") {
    import spark.implicits._
    val got = Seq(
      "cafe\u0301",      // decomposed accent → composed é
      "a\u0007b\u200Bc", // BEL + zero-width space stripped
      "x  y   z",        // space runs collapse
      " plain ",         // trimmed
    ).toDF("t").select(Hygiene.nfcClean($"t").as("c"))
      .as[String].collect().toSeq
    assert(got == Seq("caf\u00e9", "abc", "x y z", "plain"), got)
    // idempotent: cleaning the cleaned text is the identity
    val twice = got.toDF("t").select(Hygiene.nfcClean($"t").as("c"))
      .as[String].collect().toSeq
    assert(twice == got)
  }

  test("urlCanon lowercases scheme+host, strips frag/utm/port/dot-segment") {
    import spark.implicits._
    val got = Seq(
      "HTTPS://WWW.EXAMPLE3.COM:443/path/../p10/?utm_source=x&id=0#s2",
      "https://www.example3.com/p10/?id=0",          // already canonical
      "https://host.org/A/B?utm_source=x&utm_campaign=y#f", // path case kept
    ).toDF("u").select(Hygiene.urlCanon($"u").as("c"))
      .as[String].collect().toSeq
    assert(got(0) == "https://www.example3.com/p10/?id=0", got(0))
    assert(got(1) == "https://www.example3.com/p10/?id=0")
    assert(got(2) == "https://host.org/A/B", got(2))
  }

  test("nfc_normalize codegen and interpreted paths agree") {
    import spark.implicits._
    val df = Seq("cafe\u0301 nai\u0308ve", "plain", "A\u030a").toDF("t")
      .select(graft.functions.NfcNormalize.nfcNormalize($"t").as("n"))
    val cg = df.as[String].collect().toSeq
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try assert(df.as[String].collect().toSeq == cg)
    finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    assert(cg == Seq("caf\u00e9 na\u00efve", "plain", "\u00c5"), cg)
  }

  test("htmlStrip removes tags and decodes entities with &amp; last") {
    def strip(s: String): String =
      Seq(s).toDF("h").select(Hygiene.htmlStrip($"h")).head().getString(0)
    assert(strip("""<p id="x"><b>hi</b> there</p>""") == "hi there")
    // double-encoded: &amp;lt; must yield the LITERAL "&lt;", not "<"
    assert(strip("a &amp;lt; b") == "a &lt; b")
    assert(strip("q&#39;s &quot;x&quot;&nbsp;&lt;t&gt; a &amp; b") ==
      "q's \"x\" <t> a & b")
    // unterminated tag survives (the regex requires a closing '>')
    assert(strip("end <unclosed") == "end <unclosed")
  }
}
