package graft

import breeze.linalg.DenseVector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.stats.Glmm

/** Unit-level reference formulas for the stats kernels: plain Scala over
  * collected rows, one term per row, no cells. The specs compare the
  * cell kernels (which see only (area, x, m, sumY)) against these.
  */
object UnitOracle {

  /** One survey row: area, x with the intercept at index 0, y. */
  final case class Unit(area: String, x: Array[Double], y: Double)

  def rows(df: DataFrame, yCol: String, featureCols: Seq[String],
           areaCol: String): Array[Unit] =
    df.select((col(areaCol).cast("string") +: col(yCol).cast("double") +:
        featureCols.map(c => col(c).cast("double"))): _*)
      .collect().map { r =>
        Unit(r.getString(0),
          1.0 +: featureCols.indices.map(i => r.getDouble(i + 2)).toArray,
          r.getDouble(1))
      }

  private def eta(u: Unit, beta: DenseVector[Double]): Double =
    u.x.indices.map(i => beta(i) * u.x(i)).sum

  /** Laplace step per area at v(area):
    * g'(v) = sum_j (y_j - p_j) - v/sigma^2 and info = sum_j p_j (1-p_j) + 1/sigma^2.
    */
  def laplace(units: Array[Unit], beta: DenseVector[Double], sigmaSq: Double,
              v: Map[String, Double]): Map[String, (Double, Double)] =
    units.groupBy(_.area).map { case (a, us) =>
      val ps = us.map(u => Glmm.sigmoidD(eta(u, beta) + v(a)))
      val g = us.zip(ps).map { case (u, p) => u.y - p }.sum - v(a) / sigmaSq
      val info = ps.map(p => p * (1 - p)).sum + 1.0 / sigmaSq
      a -> (g, info)
    }

  /** EM beta objective per row, (1/n) sum_j [ mean_r log1pexp(eta_j + v_r) - y_j eta_j ],
    * and its gradient.
    */
  def betaObjective(units: Array[Unit], draws: Map[String, Array[Double]],
                    beta: DenseVector[Double]): (Double, DenseVector[Double]) = {
    val n = units.length.toDouble
    var loss = 0.0
    val grad = DenseVector.zeros[Double](beta.length)
    units.foreach { u =>
      val e = eta(u, beta)
      val vs = draws(u.area)
      loss += vs.map(v => Glmm.log1pExp(e + v)).sum / vs.length - u.y * e
      val mP = vs.map(v => Glmm.sigmoidD(e + v)).sum / vs.length
      grad += DenseVector(u.x) * (mP - u.y)
    }
    (loss / n, grad / n)
  }

  /** Logistic NLL per row with an L2 ridge, and its gradient. */
  def nll(units: Array[Unit], beta: DenseVector[Double],
          l2: Double): (Double, DenseVector[Double]) =
    betaObjective(units, units.map(_.area -> Array(0.0)).toMap, beta) match {
      case (l, g) => (l + 0.5 * l2 * (beta dot beta), g + beta * l2)
    }

  /** AGQ per-(area, node) sums for areas in `areas` order:
    * S(i,q) = sum_j y_j eta - log1pexp(eta), G(i,q,f) = sum_j (y_j - p) x_jf,
    * eta = x_j'beta + nodes(i)(q).
    */
  def nodeStats(units: Array[Unit], areas: Seq[String],
                nodes: Array[Array[Double]],
                beta: DenseVector[Double]): (Array[Double], Array[Double]) = {
    val q = nodes(0).length
    val k = beta.length
    val s = new Array[Double](areas.length * q)
    val g = new Array[Double](areas.length * q * k)
    units.foreach { u =>
      val ai = areas.indexOf(u.area)
      for (r <- 0 until q) {
        val e = eta(u, beta) + nodes(ai)(r)
        s(ai * q + r) += u.y * e - Glmm.log1pExp(e)
        for (f <- 0 until k)
          g((ai * q + r) * k + f) += (u.y - Glmm.sigmoidD(e)) * u.x(f)
      }
    }
    (s, g)
  }

  /** |a - b| within `tol` relative to max(1, |b|). */
  def close(a: Double, b: Double, tol: Double = 1e-9): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.abs(b))
}
