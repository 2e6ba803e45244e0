package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Native centroid-table scoring for the IVF/k-means family — the
  * kernel behind seeding costs, Lloyd assignment, and probe-list
  * construction ([[graft.ext.Similarity]]). The Catalyst spelling —
  * `array_max(array(struct(vec_dot(uv, lit(c_0)), 0), ...))` over C
  * literal centroids — builds an expression tree with C dot nodes and
  * C literal arrays: at C ≈ 257 (the 4th k-means‖ seeding round) the
  * generated method blows past codegen size limits and planning +
  * compilation dominate every training job. Here the centroid table
  * rides the plan ONCE as a reference object (the [[AhoCorasickScan]]
  * pattern) and one compiled loop scores all C rows.
  *
  * PARITY: dot accumulation order matches [[VecDot]] (ascending
  * element index), the argmax tie-break matches Spark's struct
  * ordering over `struct(d, cell)` (max d, then max cell), and the
  * top-k order matches `reverse(array_sort(...))` (descending d, then
  * descending cell) — so every trained centroid, cell assignment and
  * probe list is bit-identical to the Catalyst spelling it replaces. */
case class CentroidBest(child: Expression, cents: Array[Array[Double]],
    cellIds: Array[Int]) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("d", DoubleType, nullable = false),
    StructField("cell", IntegerType, nullable = false)))
  override def prettyName: String = "centroid_best"

  override protected def nullSafeEval(v: Any): Any =
    Centroids.best(v.asInstanceOf[ArrayData], cents, cellIds)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val c = ctx.addReferenceObj("centroids", cents, "double[][]")
    val ids = ctx.addReferenceObj("cellIds", cellIds, "int[]")
    defineCodeGen(ctx, ev,
      v => s"graft.functions.Centroids.best($v, $c, $ids)")
  }

  override protected def withNewChildInternal(
      newChild: Expression): CentroidBest = copy(child = newChild)
}

/** Top-`k` cell ids by descending (dot, cell) — the probe list. */
case class CentroidTopCells(child: Expression,
    cents: Array[Array[Double]], cellIds: Array[Int], k: Int)
    extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "centroid_top_cells"

  override protected def nullSafeEval(v: Any): Any =
    Centroids.topCells(v.asInstanceOf[ArrayData], cents, cellIds, k)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val c = ctx.addReferenceObj("centroids", cents, "double[][]")
    val ids = ctx.addReferenceObj("cellIds", cellIds, "int[]")
    defineCodeGen(ctx, ev,
      v => s"graft.functions.Centroids.topCells($v, $c, $ids, $k)")
  }

  override protected def withNewChildInternal(
      newChild: Expression): CentroidTopCells = copy(child = newChild)
}

object Centroids {
  private def dots(v: ArrayData,
      cents: Array[Array[Double]]): Array[Double] = {
    val n = v.numElements()
    val out = new Array[Double](cents.length)
    var c = 0
    while (c < cents.length) {
      val cv = cents(c)
      require(cv.length == n,
        s"centroid dim ${cv.length} vs vector dim $n")
      var acc = 0.0
      var i = 0
      while (i < n) { acc += v.getDouble(i) * cv(i); i += 1 }
      out(c) = acc
      c += 1
    }
    out
  }

  /** Spark's struct(d, cell) ordering: d first under Catalyst's double
    * order (NaN greatest and equal to itself, -0.0 == 0.0 — a total,
    * transitive order, unlike `>`/`==` under NaN), then cell. */
  private def compareCells(d: Array[Double], cellIds: Array[Int],
      a: Int, b: Int): Int = {
    val c = SQLOrderingUtil.compareDoubles(d(a), d(b))
    if (c != 0) c else Integer.compare(cellIds(a), cellIds(b))
  }

  def best(v: ArrayData, cents: Array[Array[Double]],
      cellIds: Array[Int]): InternalRow = {
    val d = dots(v, cents)
    var bi = 0
    var i = 1
    while (i < d.length) {
      if (compareCells(d, cellIds, i, bi) > 0) bi = i
      i += 1
    }
    new GenericInternalRow(Array[Any](d(bi), cellIds(bi)))
  }

  def topCells(v: ArrayData, cents: Array[Array[Double]],
      cellIds: Array[Int], k: Int): ArrayData = {
    val d = dots(v, cents)
    val order = Array.range(0, d.length)
      .sortWith((a, b) => compareCells(d, cellIds, a, b) > 0)
    val m = math.min(k, order.length)
    val out = new Array[Int](m)
    var i = 0
    while (i < m) { out(i) = cellIds(order(i)); i += 1 }
    new GenericArrayData(out)
  }

  /** struct(d, cell) of the best-scoring centroid (defensive copies —
    * the trainers mutate/rebind their centroid seqs between rounds). */
  def centroidBest(uv: Column, cents: Seq[(Int, Seq[Double])]): Column =
    ColumnBridge.column(CentroidBest(ColumnBridge.expression(uv),
      cents.map(_._2.toArray).toArray, cents.map(_._1).toArray))

  /** Top-`k` probe cells by descending (d, cell). */
  def centroidTopCells(uv: Column, cents: Seq[(Int, Seq[Double])],
      k: Int): Column =
    ColumnBridge.column(CentroidTopCells(ColumnBridge.expression(uv),
      cents.map(_._2.toArray).toArray, cents.map(_._1).toArray, k))
}
