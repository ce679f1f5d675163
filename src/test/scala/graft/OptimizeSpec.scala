package graft

import breeze.linalg.DenseVector

import graft.stats.Optimize

class OptimizeSpec extends SparkSpec {

  test("lbfgsMin solves a quadratic") {
    val target = DenseVector(1.0, -2.0, 3.0)
    val sol = Optimize.lbfgsMin({ x =>
      val d = x - target
      (0.5 * (d dot d), d)
    }, DenseVector.zeros[Double](3))
    assert(breeze.linalg.norm(sol - target) < 1e-6)
  }
}
