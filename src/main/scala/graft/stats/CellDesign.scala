package graft.stats

import java.util.concurrent.{ForkJoinTask, RecursiveTask}

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.storage.StorageLevel

/** A logistic design reduced to its distinct (area, x) cells — the one
  * data representation the fits and scorers in this package run on
  * ([[Glmm]], [[Em]], [[Agq]], [[Bootstrap]]).
  *
  * Every objective those fits optimize depends on the rows only through
  * (area, x): y enters linearly, so per-row sums collapse EXACTLY to
  * cell-weighted sums, sum_j f(eta_j) = sum_c m_c f(eta_c) and
  * sum_j y_j g(eta_j) = sum_c sumY_c g(eta_c) — the frequency-weight
  * trick of R's `glm(weights=)`. A weighted design (the big survey the
  * EBP scores) carries m_c = the cell's weight total instead, since a
  * weighted mean of f(eta_j) is sum_c W_c f(eta_c) / sum_c W_c. For
  * categorical designs (the reference's model: area x two binary
  * indicators) the table is dimension-sized whatever the row count, so
  * ONE map-side-combining shuffle replaces a pass over the rows per
  * objective evaluation.
  *
  * A table of at most [[CellDesign.MaxLocalCells]] cells is held on the
  * driver, sorted by (area, x) so driver-side sums do not depend on
  * partitioning or collect order; a larger one stays a cached RDD.
  * [[aggregate]] hides which — fixed-size chunks on a ForkJoin pool, or
  * per-partition partials merged on the driver — so every kernel is
  * written once. Designs built together (one per outcome column) share
  * that cache; [[unpersist]] on any of them releases it for all.
  *
  * @param areas   distinct area keys, sorted; [[CellDesign.Cell.area]]
  *                indexes this array
  * @param nByArea row count per area, aligned with `areas`
  * @param k       coefficients per cell: intercept + features
  */
private[graft] final class CellDesign private (
    val areas: Array[String], val nByArea: Array[Long], val k: Int,
    cells: Either[Array[CellDesign.Cell], RDD[CellDesign.Cell]],
    cache: Option[RDD[_]]) {
  import CellDesign.Cell

  val totalN: Long = nByArea.sum

  def isLocal: Boolean = cells.isLeft

  /** Fold every cell into an accumulator: `add` folds one cell into a
    * partial (it may update it in place), `merge` adds its second
    * partial into its first. `zero` is evaluated afresh for each
    * partial.
    *
    * The result depends only on the cells, never on thread count or
    * task timing, because both sides merge their partials in a fixed
    * order:
    *   - on the driver, the sorted cells are cut into chunks of
    *     [[CellDesign.ChunkCells]] cells, whatever the thread count. The
    *     chunks run as ForkJoin tasks (on the caller's pool when called
    *     from a ForkJoin worker, else on the common pool) and merge in
    *     chunk order; a design of one chunk runs inline on the caller.
    *   - distributed, each partition (its cells sorted when the design
    *     was built) folds to one partial, and the partials merge on the
    *     driver in partition-index order. So two runs at the same
    *     partitioning agree bit for bit; a different partition count
    *     may change the last bits.
    */
  def aggregate[U: ClassTag](zero: => U)(add: (U, Cell) => U,
                                         merge: (U, U) => U): U =
    cells match {
      case Left(cs) =>
        def fold(chunk: Int): U = {
          var acc = zero
          var i = chunk * CellDesign.ChunkCells
          val end = math.min(cs.length, i + CellDesign.ChunkCells)
          while (i < end) { acc = add(acc, cs(i)); i += 1 }
          acc
        }
        val chunks = (cs.length + CellDesign.ChunkCells - 1) / CellDesign.ChunkCells
        if (chunks <= 1) fold(0)
        else {
          val tasks = Array.tabulate(chunks)(c =>
            new RecursiveTask[U] { def compute(): U = fold(c) })
          ForkJoinTask.invokeAll(tasks.toSeq: _*)
          tasks.iterator.map(_.join()).reduceLeft(merge)
        }
      case Right(rdd) =>
        // each task deserializes its own copy of z
        val z = zero
        rdd.mapPartitions(it => Iterator.single(it.foldLeft(z)(add)))
          .collect().reduceLeftOption(merge).getOrElse(z)
    }

  /** This design summed over areas: one area "" whose cells add m and
    * sumY over every area sharing an x — the table [[Glmm.fitLogistic]]
    * builds from the same rows. On the driver those are exact integer
    * sums in the same (x-sorted) order, so a fit over it is
    * bit-identical to one over the rebuilt table. A distributed design
    * relabels its cells to the one area instead: the same sums, in
    * another order, and no Spark job.
    */
  def pooled: CellDesign = {
    val one = cells match {
      case Left(cs) =>
        import scala.math.Ordering.Implicits._
        Left(cs.groupBy(_.x.toSeq).toArray.sortBy(_._1).map { case (_, g) =>
          Cell(0, g.head.x, g.map(_.m).sum, g.map(_.sumY).sum)
        })
      case Right(rdd) => Right(rdd.map(_.copy(area = 0)))
    }
    new CellDesign(Array(""), Array(totalN), k, one, cache)
  }

  /** Release the cached cell RDD (nothing to do on the driver). */
  def unpersist(): Unit = cache.foreach(_.unpersist(blocking = false))
}

private[graft] object CellDesign {

  /** One distinct-covariate cell: `m` rows (or, in a weighted design,
    * weight `m`) of area `areas(area)` share the covariate vector `x`
    * (intercept at index 0), and `sumY` of them have y = 1.
    */
  final case class Cell(area: Int, x: Array[Double], m: Double, sumY: Double)

  /** Largest cell table held on the driver. */
  val MaxLocalCells: Int = 1 << 16

  /** Cells per chunk of a driver-side [[CellDesign.aggregate]]: a
    * constant, so the chunks, and with them the float sums, are the
    * same on any number of threads.
    */
  val ChunkCells: Int = 64

  /** (area, x) order: the order the driver side holds its cells in,
    * and each partition of the distributed side.
    */
  private val byAreaX: Ordering[Cell] = {
    import scala.math.Ordering.Implicits._
    Ordering.by((c: Cell) => (c.area, c.x.toSeq))
  }

  /** The cell table of `df`: groupBy(area, features) -> (n = count,
    * nulls = rows with a null outcome or weight, m, sumY0 .. sumY{B-1}
    * = sum of each `yCols` column). m is n, or the cell's weight total
    * when `weight` is given; weights are summed as decimal(38, 18) so the
    * total is exact and does not depend on partitioning. The output is
    * bounded by the covariate-cell cardinality, not the row count.
    */
  private[graft] def compress(df: DataFrame, yCols: Seq[String],
                              featureCols: Seq[String], area: Column,
                              weight: Option[String]): DataFrame = {
    val anyNull = (weight.toSeq ++ yCols).map(col(_).isNull)
      .reduceOption(_ || _).getOrElse(lit(false))
    val m = weight.fold(count(lit(1)))(w => sum(col(w).cast(DecimalType(38, 18))))
    df.groupBy((area.cast("string").as("area") +:
        featureCols.map(c => col(c).cast("double").as(c))): _*)
      .agg(count(lit(1)).as("n"), (Seq(count(when(anyNull, 1)).as("nulls"),
        m.cast("double").as("m")) ++
        yCols.zipWithIndex.map { case (y, j) =>
          sum(col(y).cast("double")).as(s"sumY$j") }): _*)
  }

  /** Build the design of `df`, run `f` on it, release it. */
  def using[T](df: DataFrame, yCol: String, featureCols: Seq[String],
               area: Column)(f: CellDesign => T): T =
    usingAll(df, Seq(yCol), featureCols, area, None)(ds => f(ds.head))

  /** Build the weighted design of `df` (m = the cell's total of `wCol`,
    * no outcome), run `f` on it, release it.
    */
  def usingWeighted[T](df: DataFrame, wCol: String, featureCols: Seq[String],
                       area: Column)(f: CellDesign => T): T =
    usingAll(df, Nil, featureCols, area, Some(wCol))(ds => f(ds.head))

  /** Build the designs of `df` ([[buildAll]]), run `f` on them,
    * release them.
    */
  def usingAll[T](df: DataFrame, yCols: Seq[String], featureCols: Seq[String],
                  area: Column, weight: Option[String])(
      f: IndexedSeq[CellDesign] => T): T = {
    val ds = buildAll(df, yCols, featureCols, area, weight, MaxLocalCells)
    try f(ds) finally ds.foreach(_.unpersist())
  }

  /** The design of `df` for outcome `yCol`; see [[buildAll]]. */
  def build(df: DataFrame, yCol: String, featureCols: Seq[String],
            area: Column, maxLocal: Int): CellDesign =
    buildAll(df, Seq(yCol), featureCols, area, None, maxLocal).head

  /** One design of `df` per outcome in `yCols`, all from ONE groupBy:
    * they share the cells and m and differ only in sumY. With no
    * outcome there is one design, with sumY = 0 (a weighted design to
    * score on). The designs are held on the driver iff the table has at
    * most `maxLocal` cells. Fits pass [[MaxLocalCells]]; tests pass
    * other bounds to force either side on small data. Release them with
    * [[CellDesign.unpersist]].
    *
    * A null area, feature, outcome or weight fails here, naming the
    * column: each would otherwise drop or miscount rows silently. An
    * outcome design needs at least three rows.
    */
  def buildAll(df: DataFrame, yCols: Seq[String], featureCols: Seq[String],
               area: Column, weight: Option[String],
               maxLocal: Int): IndexedSeq[CellDesign] = {
    val nf = featureCols.length
    val nY = yCols.length
    def nullCheck(found: Iterator[(Boolean, Option[Int], Long)]): Unit =
      found.foreach { case (areaNull, feature, nulls) =>
        feature.foreach(i => throw new IllegalArgumentException(
          s"null values in feature column '${featureCols(i)}'"))
        require(!areaNull, s"null values in area column '$area'")
        require(nulls == 0,
          s"null values in column ${(weight.toSeq ++ yCols).mkString("'", "' or '", "'")}")
      }
    def designs(areas: Array[String], n: Array[Long],
                cells: Int => Either[Array[Cell], RDD[Cell]],
                cache: Option[RDD[_]]): IndexedSeq[CellDesign] =
      (0 until math.max(1, nY)).map(j => new CellDesign(areas, n, nf + 1, cells(j), cache))
    val cellsDf = compress(df, yCols, featureCols, area, weight)
    val rows = cellsDf.limit(maxLocal + 1).collect()
    if (rows.length <= maxLocal) {
      nullCheck(rows.iterator.map(r => (r.isNullAt(0),
        (0 until nf).find(i => r.isNullAt(i + 1)), r.getLong(nf + 2))))
      val areas = rows.map(_.getString(0)).distinct.sorted
      val index = areas.zipWithIndex.toMap
      val n = new Array[Long](areas.length)
      rows.foreach(r => n(index(r.getString(0))) += r.getLong(nf + 1))
      val cs = rows.map(r => toCells(r, index(r.getString(0)), nf, nY)).sortBy(_(0))(byAreaX)
      if (weight.isEmpty) checkRows(n)
      designs(areas, n, j => Left(cs.map(_(j))), None)
    } else {
      // cache the table while it is read twice: once for the area
      // index and the null check, once to build the cell RDD
      val cached = cellsDf.persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val perArea = cached.groupBy("area").agg(sum("n"), (sum("nulls") +:
            featureCols.map(c => count(when(col(c).isNull, 1)))): _*)
          .collect()
        nullCheck(perArea.iterator.map(r => (r.isNullAt(0),
          (0 until nf).find(i => r.getLong(i + 3) > 0), r.getLong(2))))
        val sorted = perArea.map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
        if (weight.isEmpty) checkRows(sorted.map(_._2))
        val index = sorted.map(_._1).zipWithIndex.toMap
        // a partition's rows arrive in shuffle-fetch order: sort them as
        // the driver side does, so each partition folds its cells in the
        // same order every run
        val base = cached.rdd.mapPartitions(rows =>
            rows.map(r => toCells(r, index(r.getString(0)), nf, nY))
              .toArray.sortBy(_(0))(byAreaX).iterator, preservesPartitioning = true)
          .persist(StorageLevel.MEMORY_AND_DISK)
        try base.count()
        catch { case e: Throwable => base.unpersist(blocking = false); throw e }
        designs(sorted.map(_._1), sorted.map(_._2), j => Right(base.map(_(j))), Some(base))
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

  /** A `compress` row (area, features..., n, nulls, m, sumY0..) as the
    * cells of `area`, one per outcome (one with sumY = 0 if none); they
    * share `x`.
    */
  private def toCells(r: Row, area: Int, nf: Int, nY: Int): Array[Cell] = {
    val x = new Array[Double](nf + 1)
    x(0) = 1.0
    var i = 0
    while (i < nf) { x(i + 1) = r.getDouble(i + 1); i += 1 }
    val m = r.getDouble(nf + 3)
    if (nY == 0) Array(Cell(area, x, m, 0.0))
    else Array.tabulate(nY)(j => Cell(area, x, m, r.getDouble(nf + 4 + j)))
  }

  /** `merge` for array accumulators: adds `b` into `a`. */
  private[stats] def addInto(a: Array[Double], b: Array[Double]): Array[Double] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }
}
