package graft

import org.apache.spark.sql.SparkSession

/** The session-conf contract: a query runs under its caller's settings
  * and leaves them as it found them. Every operator that needs its own
  * conf values goes through [[withConf]]; each row below runs one of
  * them on a fresh session whose shuffle-partition count (7) differs
  * from the 4 the streaming gates pin, and requires the session's whole
  * explicit conf map — shuffle partitions, the approx-distinct flag,
  * the bloom-join keys, the state-store provider — to come back
  * unchanged, caller-set keys with their value and absent keys absent. */
class ConfScopeSpec extends SparkSpec {

  private val Shuffle = "spark.sql.shuffle.partitions"
  private val Flag = "spark.graft.approxDistinct"
  private val Provider = "spark.sql.streaming.stateStore.providerClass"

  private def callerSession(presets: (String, String)*): SparkSession = {
    val s = spark.newSession()
    s.conf.set(Shuffle, "7")
    presets.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  test("withConf restores a set key and unsets an absent one when its " +
      "body throws") {
    val s = callerSession(Flag -> "false")
    assert(!s.conf.getAll.contains(Provider))
    val before = s.conf.getAll
    val err = intercept[IllegalStateException] {
      withConf(s, Flag -> "true", Provider -> "x.Y", Shuffle -> "4") {
        assert(s.conf.get(Flag) == "true" && s.conf.get(Provider) == "x.Y" &&
          s.conf.get(Shuffle) == "4")
        throw new IllegalStateException("boom")
      }
    }
    assert(err.getMessage == "boom")
    assert(s.conf.getAll == before)
    assert(!s.conf.getAll.contains(Provider), "an absent key must stay absent")
    assert(s.conf.get(Flag) == "false" && s.conf.get(Shuffle) == "7")
  }

  // (query, what the caller set besides shuffle partitions, those confs)
  private val cases: Seq[(String, String, Seq[(String, String)])] = Seq(
    ("x6_approx_rewrite", "flag on", Seq(Flag -> "true")),
    ("x6_approx_rewrite", "flag absent", Seq()),
    ("j11_bloom_join", "threshold set",
      Seq("spark.sql.autoBroadcastJoinThreshold" -> "10MB")),
    ("ev14_stream_windows", "nothing else", Seq()),
    ("ev21_rocksdb_sessions", "provider absent", Seq()))

  for ((q, caller, presets) <- cases) {
    test(s"$q leaves the caller's confs as it found them ($caller)") {
      val s = callerSession(presets: _*)
      val before = s.conf.getAll
      val rows = SparkEntry.queries(q)(s, sf).collect()
      assert(rows.nonEmpty, s"$q returned no rows")
      assert(s.conf.get(Shuffle) == "7", s"$q leaked its partition pin")
      for (k <- Seq(Flag, Provider))
        assert(s.conf.getAll.get(k) == before.get(k), s"$q changed $k")
      assert(s.conf.getAll == before, s"$q changed the session's confs")
    }
  }
}
