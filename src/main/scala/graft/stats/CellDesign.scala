package graft.stats

import java.util.concurrent.{ForkJoinTask, RecursiveTask}

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
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
  * ONE scan of the rows replaces a pass over them per objective
  * evaluation.
  *
  * That scan is one Spark job ([[CellDesign.buildAll]]): each partition
  * folds its rows into a partial cell table, and the partials merge
  * exactly (integer counts, decimal weight totals, outcomes restricted
  * to 0/1), so the table does not depend on partitioning or task order.
  * A table of at most [[CellDesign.MaxLocalCells]] cells is held on the
  * driver, sorted by (area, x); a larger one is rebuilt by
  * [[CellDesign.compress]]'s groupBy and stays a cached RDD.
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

  /** The cell table of `df` as a DataFrame, the distributed side's
    * source: groupBy(area, features) -> (n = count, m,
    * sumY0 .. sumY{B-1} = sum of each `yCols` column). m is n, or the cell's weight total
    * when `weight` is given; weights are summed as decimal(38, 18) so the
    * total is exact and does not depend on partitioning. The output is
    * bounded by the covariate-cell cardinality, not the row count.
    */
  private[graft] def compress(df: DataFrame, yCols: Seq[String],
                              featureCols: Seq[String], area: Column,
                              weight: Option[String]): DataFrame = {
    val m = weight.fold(count(lit(1)))(w => sum(col(w).cast(DecimalType(38, 18))))
    df.groupBy((area.cast("string").as("area") +:
        featureCols.map(c => col(c).cast("double").as(c))): _*)
      .agg(count(lit(1)).as("n"), (m.cast("double").as("m") +:
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

  /** One design of `df` per outcome in `yCols`: they share the cells
    * and m and differ only in sumY. With no outcome there is one
    * design, with sumY = 0 (a weighted design to score on). Release
    * them with [[CellDesign.unpersist]].
    *
    * ONE Spark job: each partition folds its rows (cast as
    * [[compress]] casts them) into a cell table keyed by (area, x), and
    * `treeAggregate` merges the tables (on the driver; over more than
    * five partitions, a first merge level runs on the executors). Every
    * sum in them is exact — row counts as longs, weights as
    * decimal(38, 18), outcomes as integer counts of 1s — so the merged
    * table, and the design built from it, do not depend on the
    * partition count or on the order in which tasks finish. A table of
    * at most `maxLocal` cells becomes the driver-held design, its cells
    * sorted by (area, x). A larger one (a partial table stops adding
    * cells once it passes the bound) falls back to [[compress]]'s
    * groupBy and becomes a cached cell RDD. Fits pass
    * [[MaxLocalCells]]; tests pass other bounds to force either side
    * on small data.
    *
    * The scan checks every row on either side, and fails here naming
    * the column: a null area, feature, outcome or weight, each of which
    * would otherwise drop or miscount rows silently, and an outcome
    * other than 0 or 1, for which a logistic design has no meaning. An
    * outcome design needs at least three rows.
    */
  def buildAll(df: DataFrame, yCols: Seq[String], featureCols: Seq[String],
               area: Column, weight: Option[String],
               maxLocal: Int): IndexedSeq[CellDesign] = {
    val nf = featureCols.length
    val nY = yCols.length
    def designs(areas: Array[String], n: Array[Long],
                cells: Int => Either[Array[Cell], RDD[Cell]],
                cache: Option[RDD[_]]): IndexedSeq[CellDesign] =
      (0 until math.max(1, nY)).map(j => new CellDesign(areas, n, nf + 1, cells(j), cache))
    val scan = df.select((area.cast("string") +: featureCols.map(col(_).cast("double"))) ++
        weight.map(col(_).cast(DecimalType(38, 18))) ++
        yCols.map(col(_).cast("double")): _*)
      .queryExecution.toRdd
    val zero = new Partial(nf, nY, weight.isDefined, maxLocal)
    val table = scan.treeAggregate(zero)(_.add(_), _.merge(_))
    val bad = table.bad.indexOf(true)
    require(bad < 0,
      if (bad < nf) s"null values in feature column '${featureCols(bad)}'"
      else if (bad == nf) s"null values in area column '$area'"
      else if (bad == nf + 1)
        s"null values in column ${(weight.toSeq ++ yCols).mkString("'", "' or '", "'")}"
      else s"outcome column '${yCols(bad - nf - 2)}' has values other than 0 and 1")
    if (!table.overflow) {
      val entries = table.cells.entrySet.asScala.toArray
      val areas = entries.map(_.getKey.area).distinct.sorted
      val index = areas.zipWithIndex.toMap
      val n = new Array[Long](areas.length)
      entries.foreach(e => n(index(e.getKey.area)) += e.getValue.n)
      val cs = entries.map { e =>
        val (key, s) = (e.getKey, e.getValue)
        val a = index(key.area)
        val m = if (weight.isDefined) s.w.doubleValue else s.n.toDouble
        if (nY == 0) Array(Cell(a, key.x, m, 0.0))
        else Array.tabulate(nY)(j => Cell(a, key.x, m, s.sumY(j).toDouble))
      }.sortBy(_(0))(byAreaX)
      if (weight.isEmpty) checkRows(n)
      designs(areas, n, j => Left(cs.map(_(j))), None)
    } else {
      // cache the table while it is read twice: once for the area
      // index, once to build the cell RDD
      val cached = compress(df, yCols, featureCols, area, weight)
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val sorted = cached.groupBy("area").agg(sum("n")).collect()
          .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
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

  /** An (area, x) cell key. `x` holds the intercept and the features,
    * with -0.0 and every NaN normalised as Spark's grouping does, and
    * is compared by value.
    */
  private final class Key(val area: String, val x: Array[Double]) extends Serializable {
    override def hashCode: Int = area.hashCode * 31 + java.util.Arrays.hashCode(x)
    override def equals(o: Any): Boolean = o match {
      case k: Key => area == k.area && java.util.Arrays.equals(x, k.x)
      case _ => false
    }
  }

  /** One cell's exact sums: its rows, its weight total (a weighted
    * design) and, per outcome, its rows with y = 1.
    */
  private final class Sums(nY: Int) extends Serializable {
    var n = 0L
    var w: java.math.BigDecimal = java.math.BigDecimal.ZERO
    val sumY = new Array[Long](nY)

    def add(o: Sums): Unit = {
      n += o.n
      w = w.add(o.w)
      for (j <- 0 until nY) sumY(j) += o.sumY(j)
    }
  }

  /** The cell table of some partitions of a [[buildAll]] projection
    * (area, features..., [weight], outcomes...), plus what its rows
    * break, flagged in `bad` in the order [[buildAll]] reports it: a
    * null in each feature, the area, or the weight or an outcome, then
    * each outcome other than 0 or 1. Past `maxLocal` cells it drops its
    * cells and only overflows, but keeps checking rows, so the checks
    * hold on both sides.
    */
  private final class Partial(nf: Int, nY: Int, weighted: Boolean, maxLocal: Int)
      extends Serializable {
    val cells = new java.util.HashMap[Key, Sums]()
    var overflow = false
    val bad = new Array[Boolean](nf + 2 + nY)

    private def flag(i: Int): Boolean = { bad(i) = true; false }

    def add(r: InternalRow): Partial = {
      var ok = !r.isNullAt(0) || flag(nf)
      val x = new Array[Double](nf + 1)
      x(0) = 1.0
      var i = 0
      while (i < nf) {
        if (r.isNullAt(i + 1)) ok = flag(i)
        else {
          val v = r.getDouble(i + 1)
          x(i + 1) = if (v == 0.0) 0.0 else if (v.isNaN) Double.NaN else v
        }
        i += 1
      }
      val y0 = nf + 1 + (if (weighted) 1 else 0)
      if (weighted && r.isNullAt(nf + 1)) ok = flag(nf + 1)
      var j = 0
      while (j < nY) {
        if (r.isNullAt(y0 + j)) ok = flag(nf + 1)
        else if (r.getDouble(y0 + j) != 0.0 && r.getDouble(y0 + j) != 1.0)
          ok = flag(nf + 2 + j)
        j += 1
      }
      if (ok && !overflow) {
        val s = cells.computeIfAbsent(new Key(r.getUTF8String(0).toString, x),
          _ => new Sums(nY))
        s.n += 1
        if (weighted) s.w = s.w.add(r.getDecimal(nf + 1, 38, 18).toJavaBigDecimal)
        j = 0
        while (j < nY) { if (r.getDouble(y0 + j) == 1.0) s.sumY(j) += 1; j += 1 }
        checkBound()
      }
      this
    }

    /** Adds `o` into this table: exact, so in any order. */
    def merge(o: Partial): Partial = {
      for (i <- bad.indices) bad(i) ||= o.bad(i)
      overflow ||= o.overflow
      if (overflow) cells.clear()
      else o.cells.forEach { (k, v) =>
        if (!overflow) {
          val s = cells.putIfAbsent(k, v)
          if (s != null) s.add(v)
          checkBound()
        }
      }
      this
    }

    private def checkBound(): Unit =
      if (cells.size > maxLocal) { overflow = true; cells.clear() }
  }

  /** The EM's sigma^2 update divides by n - 2 (see [[Em.updateSigmaSq]]),
    * so fewer than three rows have no finite estimate.
    */
  private def checkRows(nByArea: Array[Long]): Unit = {
    val n = nByArea.sum
    require(n > 2, s"a cell design needs at least 3 rows, got $n")
  }

  /** A `compress` row (area, features..., n, m, sumY0..) as the
    * cells of `area`, one per outcome (one with sumY = 0 if none); they
    * share `x`.
    */
  private def toCells(r: Row, area: Int, nf: Int, nY: Int): Array[Cell] = {
    val x = new Array[Double](nf + 1)
    x(0) = 1.0
    var i = 0
    while (i < nf) { x(i + 1) = r.getDouble(i + 1); i += 1 }
    val m = r.getDouble(nf + 2)
    if (nY == 0) Array(Cell(area, x, m, 0.0))
    else Array.tabulate(nY)(j => Cell(area, x, m, r.getDouble(nf + 3 + j)))
  }

  /** `merge` for array accumulators: adds `b` into `a`. */
  private[stats] def addInto(a: Array[Double], b: Array[Double]): Array[Double] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }
}
