package graft.stats

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** A logistic design reduced to its distinct (area, x) cells — the one
  * data representation the fits in this package run on ([[Glmm]],
  * [[Em]], [[Agq]]).
  *
  * Every objective those fits optimize depends on the rows only through
  * (area, x): y enters linearly, so per-row sums collapse EXACTLY to
  * cell-weighted sums, sum_j f(eta_j) = sum_c m_c f(eta_c) and
  * sum_j y_j g(eta_j) = sum_c sumY_c g(eta_c) — the frequency-weight
  * trick of R's `glm(weights=)`. For categorical designs (the
  * reference's model: area x two binary indicators) the table is
  * dimension-sized whatever the row count, so ONE map-side-combining
  * shuffle replaces a pass over the rows per objective evaluation.
  *
  * A table of at most [[CellDesign.MaxLocalCells]] cells is held on the
  * driver, sorted by (area, x) so driver-side sums do not depend on
  * partitioning or collect order; a larger one stays a cached RDD.
  * [[aggregate]] hides which — a driver loop or a `treeAggregate` — so
  * every kernel is written once.
  *
  * @param areas   distinct area keys, sorted; [[CellDesign.Cell.area]]
  *                indexes this array
  * @param nByArea row count per area, aligned with `areas`
  * @param k       coefficients per cell: intercept + features
  */
private[graft] final class CellDesign private (
    val areas: Array[String], val nByArea: Array[Long], val k: Int,
    cells: Either[Array[CellDesign.Cell], RDD[CellDesign.Cell]]) {

  val totalN: Long = nByArea.sum

  def isLocal: Boolean = cells.isLeft

  /** Fold every cell into an accumulator. `add` may update its
    * accumulator in place; `merge` combines two partial results (used
    * only by the distributed `treeAggregate`).
    */
  def aggregate[U: ClassTag](zero: U)(add: (U, CellDesign.Cell) => U,
                                      merge: (U, U) => U): U =
    cells match {
      case Left(cs) =>
        var acc = zero
        var i = 0
        while (i < cs.length) { acc = add(acc, cs(i)); i += 1 }
        acc
      case Right(rdd) => rdd.treeAggregate(zero)(add, merge, depth = 2)
    }

  /** Release the cached cell RDD (nothing to do on the driver). */
  def unpersist(): Unit = cells.foreach(_.unpersist(blocking = false))
}

private[graft] object CellDesign {

  /** One distinct-covariate cell: `m` rows of area `areas(area)` share
    * the covariate vector `x` (intercept at index 0), and `sumY` of
    * them have y = 1.
    */
  final case class Cell(area: Int, x: Array[Double], m: Double, sumY: Double)

  /** Largest cell table held on the driver. */
  val MaxLocalCells: Int = 1 << 16

  /** The cell table of `df`: groupBy(area, features) -> (m = count,
    * sumY = sum y). Its output is bounded by the covariate-cell
    * cardinality, not the row count.
    */
  private[stats] def compress(df: DataFrame, yCol: String,
                              featureCols: Seq[String], area: Column): DataFrame =
    df.groupBy((area.cast("string").as("area") +:
        featureCols.map(c => col(c).cast("double").as(c))): _*)
      .agg(count(lit(1)).as("m"),
        sum(col(yCol).cast("double")).as("sumY"))

  /** Build the design of `df`, run `f` on it, release it. */
  def using[T](df: DataFrame, yCol: String, featureCols: Seq[String],
               area: Column)(f: CellDesign => T): T = {
    val d = build(df, yCol, featureCols, area, MaxLocalCells)
    try f(d) finally d.unpersist()
  }

  /** The design of `df`, held on the driver iff it has at most
    * `maxLocal` cells. Fits pass [[MaxLocalCells]]; tests pass other
    * bounds to force either side on small data. Release it with
    * [[CellDesign.unpersist]].
    */
  def build(df: DataFrame, yCol: String, featureCols: Seq[String],
            area: Column, maxLocal: Int): CellDesign = {
    val nf = featureCols.length
    val cellsDf = compress(df, yCol, featureCols, area)
    val rows = cellsDf.limit(maxLocal + 1).collect()
    if (rows.length <= maxLocal) {
      import scala.math.Ordering.Implicits._
      val sorted = rows.map(r => (r.getString(0), toCell(r, 0, nf)))
        .sortBy { case (a, c) => (a, c.x.toSeq) }
      val areas = sorted.map(_._1).distinct
      val index = areas.zipWithIndex.toMap
      val cs = sorted.map { case (a, c) => c.copy(area = index(a)) }
      val n = new Array[Long](areas.length)
      cs.foreach(c => n(c.area) += c.m.toLong)
      checkRows(n)
      new CellDesign(areas, n, nf + 1, Left(cs))
    } else {
      // cache the table while it is read twice: once for the area
      // index, once to build the cell RDD
      val cached = cellsDf.persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val perArea = cached.groupBy("area").agg(sum("m")).collect()
          .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
        checkRows(perArea.map(_._2))
        val index = perArea.map(_._1).zipWithIndex.toMap
        val rdd = cached.rdd.map(r => toCell(r, index(r.getString(0)), nf))
          .persist(StorageLevel.MEMORY_AND_DISK)
        rdd.count()
        new CellDesign(perArea.map(_._1), perArea.map(_._2), nf + 1, Right(rdd))
      } finally cached.unpersist(blocking = false)
    }
  }

  /** The EM's sigma^2 update divides by n - 2 (see [[Em.updateSigmaSq]]),
    * so fewer than three rows have no finite estimate.
    */
  private def checkRows(nByArea: Array[Long]): Unit = {
    val n = nByArea.sum
    require(n > 2, s"a cell design needs at least 3 rows, got $n")
  }

  /** A `compress` row (area, features..., m, sumY) as a cell of `area`. */
  private def toCell(r: Row, area: Int, nf: Int): Cell = {
    val x = new Array[Double](nf + 1)
    x(0) = 1.0
    var i = 0
    while (i < nf) { x(i + 1) = r.getDouble(i + 1); i += 1 }
    Cell(area, x, r.getLong(nf + 1).toDouble, r.getDouble(nf + 2))
  }

  /** `merge` for array accumulators: adds `b` into `a`. */
  private[stats] def addInto(a: Array[Double], b: Array[Double]): Array[Double] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }
}
