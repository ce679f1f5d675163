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
