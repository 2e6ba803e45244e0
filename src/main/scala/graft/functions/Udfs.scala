package graft.functions

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.{Q, Query, Tables}
import graft.Tables.{load => t}

/** UDF / UDAF / UDTF surface (SURVEY §2.11 X2-X4) — the reference's
  * extensibility point (custom packages into jobs, README.md:92-109;
  * Athena Lambda UDFs as the SQL surface).
  *
  * Each custom function is paired with a built-in-only formulation in
  * the oracle, so registration + execution are hash-checked, not just
  * smoke-tested. UDFs are the LAST resort in this codebase (they break
  * codegen); these exist to cover the extensibility contract.
  */
object Udfs {

  /** X3: geometric mean as a typed Aggregator (exp of mean of logs —
    * partial aggregation: (sum logs, count) buffers merge associatively,
    * so it scales exactly like a built-in agg). */
  val geoMean: Aggregator[Double, (Double, Long), Double] =
    new Aggregator[Double, (Double, Long), Double] {
      override def zero: (Double, Long) = (0.0, 0L)
      override def reduce(b: (Double, Long), x: Double): (Double, Long) =
        (b._1 + math.log(x), b._2 + 1)
      override def merge(a: (Double, Long), b: (Double, Long)): (Double, Long) =
        (a._1 + b._1, a._2 + b._2)
      override def finish(b: (Double, Long)): Double =
        if (b._2 == 0) Double.NaN else math.exp(b._1 / b._2)
      override def bufferEncoder: Encoder[(Double, Long)] =
        Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong)
      override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
    }

  /** X5: element-wise vector centroid as a typed Aggregator — the IVF
    * coarse-quantizer training primitive (bucket = nearest centroid,
    * centroid = mean of bucket). Buffer is (running sum vector, count);
    * merge is element-wise add, so partial aggregation works exactly
    * like a built-in agg and per-group state is one vector regardless
    * of group size. Null/empty vectors are skipped; mismatched
    * dimensions fail loudly. Precondition: array ELEMENTS are non-null
    * (the Seq[Float] input encoder is primitive — a null element fails
    * deserialization before the aggregator ever sees it). */
  val vecCentroid: Aggregator[Seq[Float], (Array[Double], Long), Seq[Double]] =
    new Aggregator[Seq[Float], (Array[Double], Long), Seq[Double]] {
      override def zero: (Array[Double], Long) = (Array.empty[Double], 0L)
      override def reduce(b: (Array[Double], Long), x: Seq[Float]): (Array[Double], Long) = {
        if (x == null || x.isEmpty) b // null/empty vectors don't count
        else {
          // dimension mismatches must fail loudly, never average across
          require(b._1.isEmpty || b._1.length == x.length,
            s"vec_centroid: dimension mismatch (${b._1.length} vs ${x.length})")
          val acc = if (b._1.length == x.length) b._1 else new Array[Double](x.length)
          var i = 0
          while (i < x.length) { acc(i) += x(i); i += 1 }
          (acc, b._2 + 1)
        }
      }
      override def merge(a: (Array[Double], Long), b: (Array[Double], Long)): (Array[Double], Long) =
        if (a._1.isEmpty) b
        else if (b._1.isEmpty) a
        else {
          require(a._1.length == b._1.length,
            s"vec_centroid: dimension mismatch (${a._1.length} vs ${b._1.length})")
          var i = 0
          while (i < a._1.length) { a._1(i) += b._1(i); i += 1 }
          (a._1, a._2 + b._2)
        }
      override def finish(b: (Array[Double], Long)): Seq[Double] =
        if (b._2 == 0) Seq.empty else b._1.map(_ / b._2).toSeq
      override def bufferEncoder: Encoder[(Array[Double], Long)] =
        Encoders.tuple(
          org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]](),
          Encoders.scalaLong)
      override def outputEncoder: Encoder[Seq[Double]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
    }

  /** Register the scalar UDF, the UDAF, and the generator UDF on a
    * session (idempotent). */
  def registerAll(spark: SparkSession): Unit = {
    // X2: scalar UDF — discounted price.
    spark.udf.register("discounted_price",
      (price: Double, discount: Double) => price * (1.0 - discount))
    // X3: UDAF.
    spark.udf.register("geo_mean", udaf(geoMean))
    // X5: vector-centroid UDAF (explicit input encoder: the input is a
    // float array column, not a product type).
    spark.udf.register("vec_centroid", udaf(vecCentroid,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Float]]()))
    // X4: UDTF-style generator — word bigrams; explode() supplies the
    // lateral semantics.
    spark.udf.register("bigrams", (text: String) =>
      if (text == null) Seq.empty[String]
      else text.split(" ").toSeq.sliding(2).filter(_.size == 2)
        .map(_.mkString(" ")).toSeq)
  }

  // ------------------------------------------------------------ queries

  /** X2: scalar UDF over lineitem — oracle recomputes the arithmetic
    * with built-ins. */
  private val x2UdfScalar: Q = (s, dir) => {
    registerAll(s)
    t(s, dir, "lineitem")
      .filter(col("l_orderkey") <= 100)
      .select(col("l_orderkey"), col("l_linenumber"),
        round(expr("discounted_price(l_extendedprice, l_discount)"), 4)
          .as("net_price"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("net_price"))
  }

  /** X3: UDAF — geometric-mean retail price per brand. */
  private val x3UdafGeomean: Q = (s, dir) => {
    registerAll(s)
    t(s, dir, "part")
      .groupBy(col("p_brand"))
      .agg(round(expr("geo_mean(p_retailprice)"), 4).as("geo_price"),
        count(lit(1)).as("n"))
      .orderBy(col("p_brand"))
  }

  /** X4: generator UDF + explode — top word bigrams over documents. */
  private val x4UdtfBigrams: Q = (s, dir) => {
    registerAll(s)
    t(s, dir, "documents")
      .select(explode(expr("bigrams(text)")).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(20)
  }

  /** X5: vector centroids per hash-bucket — exploded to (grp, dim, v)
    * rows so the oracle compare is representation-stable. */
  private val x5UdafCentroid: Q = (s, dir) => {
    registerAll(s)
    t(s, dir, "embeddings")
      .groupBy((col("vec_id") % 5).as("grp"))
      .agg(expr("vec_centroid(embedding)").as("c"))
      .select(col("grp"), posexplode(col("c")).as(Seq("dim", "v")))
      .select(col("grp"), col("dim"), round(col("v"), 6).as("v"))
      .orderBy(col("grp"), col("dim"))
  }

  /** X7: a SQL-DEFINED function (Spark 4's `CREATE FUNCTION …
    * RETURN <expr>`, SPARK-46057) — the zero-JVM extension surface: the
    * body is a SQL expression, so Catalyst INLINES it into the plan
    * (full codegen, pushdown through it), unlike a black-box JVM UDF.
    * Declared temporary, used inside an aggregate; the oracle restates
    * the inlined expression directly, so a definition/resolution bug
    * (wrong arg binding, stale function) hash-fails. */
  private val x7SqlUdf: Q = (s, dir) => {
    graft.Tables.register(s, dir)
    s.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION disc_price(
        |  p DOUBLE, d DOUBLE) RETURNS DOUBLE
        |RETURN round(p * (1.0 - d), 4)""".stripMargin)
    s.sql(
      """SELECT l_returnflag,
        |  round(sum(disc_price(l_extendedprice, l_discount)), 2)
        |    AS revenue,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)
  }

  /** X8: in-flight QC metrics via `Dataset.observe` (the
    * CollectMetrics/Observation API) — data-quality counters gathered
    * in THE SAME PASS as the main action, zero extra scans: at 100 TB
    * the difference between "QC is free" and "QC doubles the read".
    * The observed row (count, exact quantity sum, discounted-line
    * count, null-key count) is emitted as the query RESULT, and the
    * oracle recomputes every metric from the raw table — a metric
    * attached to the wrong expression, dropped by an optimizer rule,
    * or taken from a partial action hash-fails. */
  private val x8Observe: Q = (s, dir) => {
    // Child session: Spark 4's ObservationManager registers a
    // SESSION-LIFETIME listener whose onFailure RETHROWS later queries'
    // exceptions into the listener bus — so an Observation used on the
    // shared session makes every subsequent intentionally-failing probe
    // (k23's expired-read Try, WAP rejects) log a spurious
    // ExecutionListenerBus error stack. Observing on a child session
    // (shared context, separate listener bus) isolates it.
    val so = s.newSession()
    val obs = new org.apache.spark.sql.Observation("x8_qc")
    val li = Tables.load(so, dir, "lineitem")
      .observe(obs,
        count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        count(when(col("l_discount") >= 0.05, 1)).as("n_discounted"),
        count(when(col("l_orderkey").isNull, 1)).as("n_null_keys"))
    // The main action (a real pipeline's write) drives the metrics.
    li.write.format("noop").mode("overwrite").save()
    val m = obs.get
    import s.implicits._
    Seq((m("n_rows").asInstanceOf[Long], m("sum_qty").asInstanceOf[Long],
      m("n_discounted").asInstanceOf[Long],
      m("n_null_keys").asInstanceOf[Long]))
      .toDF("n_rows", "sum_qty", "n_discounted", "n_null_keys")
  }

  val queries: Seq[Query] = Seq(
    // Every observed metric recomputed from the raw table.
    Query("x8_observe", x8Observe,
      """SELECT count(*)::BIGINT AS n_rows,
        |  sum(l_quantity::BIGINT)::BIGINT AS sum_qty,
        |  count(CASE WHEN l_discount >= 0.05 THEN 1 END)::BIGINT
        |    AS n_discounted,
        |  count(CASE WHEN l_orderkey IS NULL THEN 1 END)::BIGINT
        |    AS n_null_keys
        |FROM lineitem""".stripMargin),
    // The SQL function body inlined — definition must be transparent.
    Query("x7_sql_udf", x7SqlUdf,
      """SELECT l_returnflag,
        |  round(sum(round(l_extendedprice * (1.0 - l_discount), 4)), 2)
        |    AS revenue,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),
    Query("x2_udf_scalar", x2UdfScalar,
      """SELECT l_orderkey, l_linenumber,
        | round(l_extendedprice * (1.0 - l_discount), 4) AS net_price
        |FROM lineitem WHERE l_orderkey <= 100
        |ORDER BY l_orderkey, l_linenumber, net_price""".stripMargin),
    Query("x3_udaf_geomean", x3UdafGeomean,
      """SELECT p_brand, round(exp(avg(ln(p_retailprice))), 4) AS geo_price,
        | count(*) AS n
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin),
    Query("x4_udtf_bigrams", x4UdtfBigrams,
      """SELECT bigram, count(*) AS n FROM (
        |  SELECT unnest(list_transform(
        |    range(1, greatest(len(string_split(text,' ')), 1)),
        |    i -> string_split(text,' ')[i] || ' ' ||
        |         string_split(text,' ')[i+1])) AS bigram
        |  FROM documents)
        |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""".stripMargin),
    Query("x5_udaf_centroid", x5UdafCentroid,
      """SELECT grp, dim - 1 AS dim, round(avg(v), 6) AS v
        |FROM (
        |  SELECT vec_id % 5 AS grp,
        |         unnest(embedding) AS v,
        |         generate_subscripts(embedding, 1) AS dim
        |  FROM embeddings)
        |GROUP BY grp, dim ORDER BY grp, dim""".stripMargin),
  )
}
