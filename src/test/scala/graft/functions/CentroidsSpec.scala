package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The native centroid kernels against the Catalyst spelling they
  * replace, on scores where `>`/`==` alone give no order: NaN, ±Inf and
  * ties. Spark orders doubles NaN-greatest, so `array_max` and
  * `array_sort` define the expected argmax and probe order. */
class CentroidsSpec extends SparkSpec {
  import spark.implicits._

  // Two tables of 40 centroids (past TimSort's 32-element insertion-
  // sort cutoff, so a non-transitive comparator can trip its merge
  // checks) with zero, infinite and repeated coordinates: a query then
  // scores some cells NaN (0·Inf, Inf − Inf), some ±Inf and some
  // exactly tied. The first table also has NaN coordinates, so NaN is
  // usually the best score; the second has infinities only in its
  // first coordinate, so +Inf is the best score of a query like (1, 1).
  private val rnd = new scala.util.Random(17)
  private def table(coords: Seq[Double], infFirst: Boolean)
      : Seq[(Int, Seq[Double])] = (0 until 40).map { i =>
    val c = Seq.fill(2)(coords(rnd.nextInt(coords.length)))
    val inf = if (i % 8 == 0) Double.PositiveInfinity
      else if (i % 8 == 1) Double.NegativeInfinity else c.head
    (i * 3 % 40, if (infFirst) Seq(inf, c(1)) else c)
  }
  private val finite = Seq(0.0, 1.0, -1.0, 2.0)
  private val tables = Seq(
    table(finite ++ Seq(Double.PositiveInfinity, Double.NegativeInfinity,
      Double.NaN), infFirst = false),
    table(finite, infFirst = true))

  private val queries = Seq(Seq(1.0, 1.0), Seq(0.0, 0.0), Seq(1.0, 0.0),
    Seq(Double.NaN, 1.0), Seq(Double.PositiveInfinity, 0.0),
    Seq(Double.NegativeInfinity, Double.PositiveInfinity),
    Seq(-0.0, 2.0)) ++ Seq.fill(20)(Seq.fill(2)(finite(rnd.nextInt(4))))

  private def scored(uv: Column, cents: Seq[(Int, Seq[Double])]): Column =
    array(cents.map { case (cell, c) =>
      struct(VecDot.vecDot(uv, typedLit(c)).as("d"), lit(cell).as("cell"))
    }: _*)

  /** Doubles equal under Spark's ordering (NaN equals NaN). */
  private def same(x: Double, y: Double): Boolean =
    java.lang.Double.compare(x, y) == 0 || x == y

  test("centroid_best picks array_max's struct under NaN and ±Inf scores") {
    val rows = tables.flatMap { cents =>
      queries.toDF("uv")
        .select(Centroids.centroidBest($"uv", cents).as("got"),
          array_max(scored($"uv", cents)).as("want"))
        .select($"got.d", $"got.cell", $"want.d", $"want.cell")
        .as[(Double, Int, Double, Int)].collect()
    }
    assert(rows.exists(_._3.isNaN) && rows.exists(_._3.isPosInfinity),
      "the queries must reach NaN and +Inf best scores")
    rows.foreach { case (gd, gc, wd, wc) =>
      assert(same(gd, wd) && gc == wc, s"got ($gd, $gc), want ($wd, $wc)")
    }
  }

  test("centroid_top_cells follows array_sort's order under NaN and ±Inf") {
    for (cents <- tables; k <- Seq(2, cents.length)) {
      val want = transform(
        slice(reverse(array_sort(scored($"uv", cents))), 1, k),
        _.getField("cell"))
      val rows = queries.toDF("uv")
        .select(Centroids.centroidTopCells($"uv", cents, k), want)
        .as[(Seq[Int], Seq[Int])].collect()
      rows.foreach { case (got, exp) =>
        assert(got == exp, s"k=$k: got $got, want $exp")
      }
    }
  }
}
