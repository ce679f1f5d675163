package graft.stats

import breeze.linalg.DenseVector
import breeze.optimize.{DiffFunction, LBFGS}

/** Driver-side numerical optimizer (SURVEY.md M10/M11).
  *
  * Mirrors the reference's `optimParallel` L-BFGS-B
  * (`Method_code.Rmd:33-35,337`); its 1-D `optimize` calls (`:262,
  * 308-310`) are the EM's safeguarded Newton Laplace solver and the
  * closed-form sigma^2 update. The reference parallelizes finite differences across
  * forked R workers; here parallelism lives *inside* the objective
  * (a Spark action per evaluation), so the optimizer itself is plain
  * driver code.
  */
object Optimize {

  /** Unconstrained N-D minimization via Breeze L-BFGS. `fg` returns
    * (value, gradient); when the objective is a distributed NLL, each
    * call is one Spark `treeAggregate` action over a cached RDD.
    */
  def lbfgsMin(fg: DenseVector[Double] => (Double, DenseVector[Double]),
               init: DenseVector[Double], maxIter: Int = 100,
               m: Int = 7, tol: Double = 1e-8): DenseVector[Double] = {
    val f = new DiffFunction[DenseVector[Double]] {
      def calculate(x: DenseVector[Double]): (Double, DenseVector[Double]) =
        fg(x)
    }
    new LBFGS[DenseVector[Double]](maxIter, m, tol).minimize(f, init)
  }
}
