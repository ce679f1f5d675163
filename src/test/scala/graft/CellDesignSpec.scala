package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, ForkJoinPool, TimeUnit}

import breeze.linalg.DenseVector
import org.apache.spark.sql.functions._

import graft.stats.{CellDesign, Em}

/** `CellDesign.aggregate`: fixed 64-cell chunks merged in chunk order on
  * the driver, per-partition partials merged in partition order when
  * distributed — so a sum depends on the cells only, not on threads or
  * task timing.
  */
class CellDesignSpec extends SparkSpec {
  import CellDesignSpec._

  // x1 is continuous: every row is its own cell, 1,200 cells in 19 chunks
  lazy val survey = SurveyFixture.smallSurvey(numAreas = 20, rowsPerArea = 60)
    .cache()

  private def run(d: CellDesign): Seq[Double] =
    d.aggregate(new Array[Double](beta.length + 1))(add, merge).toSeq

  private def withDesign[T](maxLocal: Int)(f: CellDesign => T): T = {
    val d = CellDesign.build(survey, "y", SurveyFixture.featureCols,
      col("state"), maxLocal)
    try f(d) finally d.unpersist()
  }

  /** `f` on a ForkJoin pool of `par` workers; a deadlock fails here. */
  private def inPool[T](par: Int)(f: => T): T = {
    val pool = new ForkJoinPool(par)
    try pool.submit(new Callable[T] { def call(): T = f }).get(120, TimeUnit.SECONDS)
    finally pool.shutdown()
  }

  test("the local aggregate equals a sequential fold over the same 64-cell " +
      "chunks, bit for bit") {
    withDesign(CellDesign.MaxLocalCells) { d =>
      assert(d.isLocal)
      // an order-keeping accumulator: the merged cells come back in
      // (area, x) order, so the chunks are contiguous runs of that order
      val cells = d.aggregate(Vector.empty[CellDesign.Cell])(_ :+ _, _ ++ _)
      assert(cells.length == 1200)
      import scala.math.Ordering.Implicits._
      assert(cells.map(c => (c.area, c.x.toSeq)) ==
        cells.map(c => (c.area, c.x.toSeq)).sorted)
      val chunks = cells.grouped(CellDesign.ChunkCells).toSeq
      assert(CellDesign.ChunkCells == 64 && chunks.length == 19)
      val want = chunks.map(_.foldLeft(new Array[Double](beta.length + 1))(add))
        .reduceLeft(merge).toSeq
      assert(run(d) == want)
    }
  }

  test("the local aggregate gives the same bits on a ForkJoin pool of 1 or " +
      "4 workers and on 8 concurrent plain threads") {
    withDesign(CellDesign.MaxLocalCells) { d =>
      val want = run(d)
      assert(inPool(1)(run(d)) == want)
      assert(inPool(4)(run(d)) == want)
      val threads = Executors.newFixedThreadPool(8)
      try {
        val start = new CountDownLatch(1)
        val runs = (1 to 8).map(_ => threads.submit(new Callable[Seq[Seq[Double]]] {
          def call(): Seq[Seq[Double]] = { start.await(); (1 to 10).map(_ => run(d)) }
        }))
        start.countDown()
        runs.foreach(r => assert(r.get(120, TimeUnit.SECONDS).forall(_ == want)))
      } finally threads.shutdownNow()
    }
  }

  test("two distributed fits are bit-identical") {
    val init = Em.Params(DenseVector.zeros[Double](3), 1.0)
    def fit() = withDesign(0) { d =>
      assert(!d.isLocal)
      val agg = run(d)
      (agg, Em.fitDesign(d, init, numDraws = 50, tol = 0.01, maxIter = 2,
        seed = 5L, vBound = 3.0))
    }
    val (agg1, f1) = fit()
    val (agg2, f2) = fit()
    assert(agg1 == agg2)
    assert(f1.params.beta == f2.params.beta)
    assert(f1.params.sigmaSq == f2.params.sigmaSq)
    assert(f1.modes == f2.modes)
    // the distributed sums agree with the driver's to rounding
    withDesign(CellDesign.MaxLocalCells) { d =>
      run(d).zip(agg1).foreach { case (a, b) =>
        assert(math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(a)), s"$a vs $b") }
    }
  }

  /** 240 rows over 4 areas and 2 categorical features (x1 has -0.0,
    * which groups with 0.0), fractional weights whose decimal totals a
    * double sum would round, and three 0/1 outcomes.
    */
  private lazy val rows = {
    val s = spark
    import s.implicits._
    (0 until 240).map { i =>
      (s"a${i % 4}", Seq(-0.0, 0.0, 1.5, 2.0)(i % 7 % 4), (i / 4 % 3).toDouble,
        0.1 + (i % 11) / 3.0, i % 2, i / 3 % 2, (i * 7) % 5 / 4)
    }.toDF("state", "x1", "x2", "w", "y1", "y2", "y3")
  }
  private val xs = Seq("x1", "x2")

  /** A design's cells as (area, x, m, sumY), in its order, with every
    * double as its bits.
    */
  private def bitsOf(d: CellDesign) =
    d.aggregate(Vector.empty[(Int, Seq[Long], Long, Long)])((acc, c) =>
      acc :+ ((c.area, c.x.toSeq.map(java.lang.Double.doubleToRawLongBits),
        java.lang.Double.doubleToRawLongBits(c.m),
        java.lang.Double.doubleToRawLongBits(c.sumY))), _ ++ _)
      .map { case (a, x, m, y) => (d.areas(a), x, m, y) }

  test("the driver design is bit-identical to compress's sorted table at " +
      "1, 3 and 8 partitions: unweighted, weighted, three outcomes") {
    import scala.math.Ordering.Implicits._
    def bits(v: Double) = java.lang.Double.doubleToRawLongBits(v)
    val all = rows.collect()
    for ((yCols, weight) <- Seq((Seq("y1"), None), (Nil, Some("w")),
        (Seq("y1", "y2", "y3"), None))) {
      val want = CellDesign.compress(rows, yCols, xs, col("state"), weight)
        .collect().toSeq
        .map(r => (r.getString(0), Seq(1.0, r.getDouble(1), r.getDouble(2)), r))
        .sortBy { case (a, x, _) => (a, x) }
      for (p <- Seq(1, 3, 8)) {
        val ds = CellDesign.buildAll(rows.repartition(p), yCols, xs, col("state"),
          weight, CellDesign.MaxLocalCells)
        assert(ds.length == math.max(1, yCols.length) && ds.forall(_.isLocal))
        ds.zipWithIndex.foreach { case (d, j) =>
          val exp = want.map { case (a, x, r) => (a, x.map(bits), bits(r.getDouble(4)),
            if (yCols.isEmpty) bits(0.0) else bits(r.getDouble(5 + j))) }
          assert(bitsOf(d) == exp, s"$yCols $weight at $p partitions, design $j")
          val n = want.groupMapReduce(_._1)(_._3.getLong(3))(_ + _)
          assert(d.areas.toSeq == n.keys.toSeq.sorted &&
            d.nByArea.toSeq == d.areas.toSeq.map(n))
        }
      }
      // the weight totals are the exact decimal sums, which a double
      // fold over the rows misses
      if (weight.isDefined) {
        val folded = all.groupMapReduce(r => (r.getString(0), r.getDouble(1) + 0.0,
          r.getDouble(2)))(_.getDouble(3))(_ + _)
        assert(want.exists { case (a, x, r) => r.getDouble(4) != folded((a, x(1), x(2))) })
      }
    }
  }

  test("a driver-side build, usingWeighted or buildAll of a cached input " +
      "runs one Spark job") {
    val cached = rows.cache()
    try {
      cached.count()
      assert(jobsOf(CellDesign.build(cached, "y1", xs, col("state"),
        CellDesign.MaxLocalCells)) == 1)
      assert(jobsOf(CellDesign.usingWeighted(cached, "w", xs, col("state")) { d =>
        assert(d.isLocal) }) == 1)
      assert(jobsOf(CellDesign.buildAll(cached, Seq("y1", "y2", "y3"), xs,
        col("state"), None, CellDesign.MaxLocalCells)) == 1)
    } finally cached.unpersist()
  }

  test("a table goes distributed when one partition alone is over the " +
      "bound, and when each partition fits but their union does not") {
    val s = spark
    import s.implicits._
    // 8 one-row cells, parallelized in order: 4 in each of 2 partitions
    val df = s.sparkContext.parallelize((0 until 8).map(i =>
      ("a", i.toDouble, 0.0, i % 2)), 2).toDF("state", "x1", "x2", "y")
    val local = CellDesign.build(df, "y", xs, col("state"), 8)
    assert(local.isLocal)
    val want = bitsOf(local).sortBy(_.toString)
    for (maxLocal <- Seq(3, 5)) {
      val d = CellDesign.build(df, "y", xs, col("state"), maxLocal)
      try {
        assert(!d.isLocal, s"maxLocal $maxLocal")
        assert(d.areas.toSeq == Seq("a") && d.nByArea.toSeq == Seq(8L))
        assert(bitsOf(d).sortBy(_.toString) == want)
      } finally d.unpersist()
    }
  }

  test("an outcome other than 0 or 1 is rejected on either side, naming " +
      "the column") {
    val bad = rows.withColumn("y2", when(col("x2") === 1.0 && col("y1") === 1, 2)
      .otherwise(col("y2")))
    for (maxLocal <- Seq(CellDesign.MaxLocalCells, 0)) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val e = intercept[IllegalArgumentException](CellDesign.buildAll(bad,
        Seq("y1", "y2", "y3"), xs, col("state"), None, maxLocal))
      assert(e.getMessage.contains("outcome column 'y2'"), e.getMessage)
      val e1 = intercept[IllegalArgumentException](CellDesign.build(
        rows.withColumn("y1", col("y1") * 0.5), "y1", xs, col("state"), maxLocal))
      assert(e1.getMessage.contains("outcome column 'y1'"), e1.getMessage)
      assert(spark.sparkContext.getPersistentRDDs.keySet == before)
    }
  }
}

/** The test kernel lives outside the suite, so Spark can ship it. */
object CellDesignSpec {
  val beta = Array(0.3, -0.7, 0.45)

  /** A float-sensitive kernel: [sum m log1pexp(eta), sum (m p - sumY) x_i]. */
  def add(acc: Array[Double], c: CellDesign.Cell): Array[Double] = {
    var eta = 0.1 * c.area
    var i = 0
    while (i < beta.length) { eta += beta(i) * c.x(i); i += 1 }
    acc(0) += c.m * math.log1p(math.exp(eta)) - c.sumY * eta
    val p = 1.0 / (1.0 + math.exp(-eta))
    i = 0
    while (i < beta.length) { acc(i + 1) += (c.m * p - c.sumY) * c.x(i); i += 1 }
    acc
  }

  def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }
}
