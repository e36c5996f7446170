package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

/** Coarse-quantizer cell assignment for IVF similarity search: which of
  * the k trained centroids is a vector closest to (by cosine).
  *
  * The centroid matrix is an expression PARAMETER, not a child: it is the
  * trained model (small — k×dim floats), serialized with the plan and
  * injected into generated code via `addReferenceObj`, so a 100 TB assign
  * scan is one codegen'd loop per row with the matrix resident in memory —
  * the Catalyst analog of broadcasting model weights.
  *
  * Ties and degenerate inputs are deterministic: equal scores keep the
  * LOWEST cell index, and a zero-norm vector scores 0 against every cell
  * (so it lands in cell 0).
  */
object IvfCells {

  /** Cosine score with NaN normalized to -Infinity: a NaN component (in
    * the vector or a degenerate trained centroid) must LOSE to every real
    * score — and identically in the assign path (computeCell) and the
    * probe path (computeCells), or corpus rows land in cells queries
    * never probe. NaN's compare-false-to-everything otherwise makes the
    * outcome depend on scan order.
    */
  private def score(vec: Array[Float], cent: Array[Float]): Double = {
    val s = CosineSimilarity.compute(vec, cent)
    if (java.lang.Double.isNaN(s)) Double.NegativeInfinity else s
  }

  def computeCell(vec: ArrayData, cents: Array[Array[Float]]): Int =
    computeCell(vec.toFloatArray(), cents)

  /** argmax-cosine cell index. */
  def computeCell(vec: Array[Float], cents: Array[Array[Float]]): Int = {
    var best = 0
    var bestScore = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      val s = score(vec, cents(c))
      if (s > bestScore) { bestScore = s; best = c }
      c += 1
    }
    best
  }

  def computeCells(vec: ArrayData, cents: Array[Array[Float]], nprobe: Int): ArrayData =
    computeCells(vec.toFloatArray(), cents, nprobe)

  /** Top-`nprobe` cell indices by cosine, descending (ties → lower index
    * first): the query-side multi-probe set.
    */
  def computeCells(vec: Array[Float], cents: Array[Array[Float]], nprobe: Int): ArrayData = {
    val k = cents.length
    val scores = new Array[Double](k)
    var c = 0
    while (c < k) { scores(c) = score(vec, cents(c)); c += 1 }
    val n = math.min(nprobe, k)
    val picked = new Array[Int](n)
    val used = new Array[Boolean](k)
    var p = 0
    while (p < n) {
      // Seed with the first unused index (scores are NaN-free, so the
      // comparisons below are total): an all -Infinity row still picks
      // deterministic ascending cells instead of leaving best = -1.
      var best = 0
      while (used(best)) best += 1
      var bestScore = scores(best)
      c = best + 1
      while (c < k) {
        if (!used(c) && scores(c) > bestScore) { bestScore = scores(c); best = c }
        c += 1
      }
      used(best) = true
      picked(p) = best
      p += 1
    }
    new GenericArrayData(picked)
  }

  /** The centroid matrix as the kernels read it. */
  def matrix(centroids: Seq[Seq[Float]]): Array[Array[Float]] =
    centroids.map(_.toArray).toArray

  def nearest_cell(vec: Column, centroids: Seq[Seq[Float]]): Column =
    Bridge.column(NearestCell(Bridge.expression(vec), centroids))

  def nearest_cells(vec: Column, centroids: Seq[Seq[Float]], nprobe: Int): Column =
    Bridge.column(NearestCells(Bridge.expression(vec), centroids, nprobe))
}

case class NearestCell(child: Expression, centroids: Seq[Seq[Float]])
    extends UnaryExpression with Kernel {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "ivf_nearest_cell"
  def kernel = Kernel.Static(IvfCells, "computeCell", IvfCells.matrix(centroids))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class NearestCells(child: Expression, centroids: Seq[Seq[Float]], nprobe: Int)
    extends UnaryExpression with Kernel {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "ivf_nearest_cells"
  def kernel = Kernel.Static(IvfCells, "computeCells", IvfCells.matrix(centroids), nprobe)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
