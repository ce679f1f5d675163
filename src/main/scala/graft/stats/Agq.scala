package graft.stats

import breeze.linalg.{eigSym, DenseMatrix, DenseVector}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Adaptive Gauss-Hermite maximum-likelihood fit of the logistic
  * random-intercept model — the engine's faithful counterpart of the
  * reference's `glmer(..., family=binomial)` (SURVEY.md M1;
  * `Method_code.Rmd:68-81`, refit per bootstrap replicate `:602-607`).
  *
  * Unlike [[Glmm.fitLogistic]] (fixed-effects only) and [[Em.fit]] (the
  * paper's adjusted-likelihood EM), this maximizes the TRUE marginal
  * likelihood
  *
  *   L(beta, sigma) = prod_i Integral N(v; 0, sigma^2)
  *                      prod_j p_ij(v)^y 1-p_ij(v)^(1-y) dv
  *
  * with the per-area integral evaluated by Q-node Gauss-Hermite
  * quadrature ADAPTED to each area: nodes are centered at the area's
  * Laplace mode vhat_i and scaled by its curvature tau_i (both from
  * the EM's Laplace solver over the data's [[CellDesign]] — one design
  * `aggregate` per Newton step). lme4 does the same centering via
  * PIRLS; the quadrature rule itself (Golub-Welsch on the Jacobi
  * matrix) is the standard construction.
  *
  * Scale shape: fixing the centering (vhat_i, tau_i), the quadrature
  * objective is exactly differentiable in (beta, log sigma), so the
  * inner optimization is driver L-BFGS where EVERY evaluation is ONE
  * design `aggregate` computing per-(area, node) sufficient statistics
  * — an O(areas x Q x features) result, dimension-sized regardless of
  * row count. An outer fixed-point loop
  * re-adapts the centering at the updated parameters until the
  * estimates stabilize (standard adaptive-quadrature practice). Total
  * work per outer round: O(Newton passes + L-BFGS evals) passes over
  * the cells, same complexity class as [[Em.fit]].
  */
object Agq {

  /** Fitted model: glmer-comparable (beta, sigma, BLUPs).
    * `ranef` rows are (area, posterior mean of v_i, posterior SD).
    */
  case class Fit(beta: DenseVector[Double], sigma: Double, logLik: Double,
                 ranef: Seq[(String, Double, Double)], outerIters: Int,
                 converged: Boolean)

  /** Gauss-Hermite nodes/weights for weight function e^(-z^2)
    * (physicists' convention) by Golub-Welsch: eigendecomposition of
    * the symmetric tridiagonal Jacobi matrix with off-diagonals
    * sqrt(i/2); nodes = eigenvalues, weight_i = sqrt(pi) * (first
    * eigenvector component)^2.
    */
  def hermiteNodes(q: Int): (Array[Double], Array[Double]) = {
    require(q >= 1, s"need at least one quadrature node, got $q")
    if (q == 1) return (Array(0.0), Array(math.sqrt(math.Pi)))
    val jac = DenseMatrix.zeros[Double](q, q)
    var i = 1
    while (i < q) {
      val b = math.sqrt(i / 2.0)
      jac(i - 1, i) = b
      jac(i, i - 1) = b
      i += 1
    }
    val es = eigSym(jac)
    val nodes = es.eigenvalues.toArray
    val weights = Array.tabulate(q) { j =>
      val v0 = es.eigenvectors(0, j)
      math.sqrt(math.Pi) * v0 * v0
    }
    (nodes, weights)
  }

  private val halfLog2Pi = 0.5 * math.log(2 * math.Pi)

  /** Per-(area, node) sufficient statistics from one design
    * `aggregate`: for each area i and node position v_iq, cell-weighted,
    *   S(i,q)  = sum_c sumY_c eta - m_c log1pexp(eta),   eta = x_c'beta + v_iq
    *   G(i,q,) = sum_c (sumY_c - m_c sigmoid(eta)) x_c
    * Flat arrays indexed (ai*Q + q) and ((ai*Q + q)*k + f), ai the
    * design's area index; the result is O(areas x Q x k) doubles —
    * dimension-sized, safe to reduce to the driver at any row count.
    */
  private[graft] def nodeStats(d: CellDesign, nodesByArea: Array[Array[Double]],
                               beta: Array[Double]): (Array[Double], Array[Double]) = {
    val nA = nodesByArea.length
    val q = nodesByArea(0).length
    val k = beta.length
    d.aggregate((new Array[Double](nA * q), new Array[Double](nA * q * k)))({
      case ((s, g), c) =>
        var eta0 = 0.0
        var i = 0
        while (i < k) { eta0 += beta(i) * c.x(i); i += 1 }
        val vs = nodesByArea(c.area)
        var r = 0
        while (r < q) {
          val eta = eta0 + vs(r)
          val idx = c.area * q + r
          s(idx) += c.sumY * eta - c.m * Glmm.log1pExp(eta)
          val resid = c.sumY - c.m * Glmm.sigmoidD(eta)
          i = 0
          while (i < k) { g(idx * k + i) += resid * c.x(i); i += 1 }
          r += 1
        }
        (s, g)
    }, { case ((s1, g1), (s2, g2)) =>
      (CellDesign.addInto(s1, s2), CellDesign.addInto(g1, g2))
    })
  }

  /** Marginal NLL and gradient in (beta, log sigma) for FIXED node
    * positions (adaptive centering held constant — exact derivatives
    * under that convention). Per area:
    *   log L_i = logsumexp_q [ log w_q + z_q^2 + log(sqrt2 tau_i)
    *             + S(i,q) - v_iq^2/(2 s^2) - log s - log sqrt(2 pi) ]
    * with posterior node weights a_iq = softmax of the bracket; the
    * gradient is the a-weighted mean of the per-node derivatives.
    * Returns (nll, grad, logLik_total, a-weights) — the weights feed
    * the BLUP computation at the fitted optimum for free.
    */
  private[graft] def marginalNllGrad(
      stats: (Array[Double], Array[Double]),
      modes: Seq[Em.AreaMode], nodesByArea: Array[Array[Double]],
      z: Array[Double], w: Array[Double],
      theta: DenseVector[Double]): (Double, DenseVector[Double], Array[Array[Double]]) = {
    val (s, g) = stats
    val q = z.length
    val k = theta.length - 1
    val logSigma = theta(k)
    val sigma = math.exp(logSigma)
    val s2 = sigma * sigma
    var nll = 0.0
    val grad = new Array[Double](k + 1)
    val post = new Array[Array[Double]](modes.length)
    var ai = 0
    while (ai < modes.length) {
      val tau = modes(ai).tau
      val vs = nodesByArea(ai)
      val c = new Array[Double](q)
      var m = Double.NegativeInfinity
      var r = 0
      while (r < q) {
        c(r) = math.log(w(r)) + z(r) * z(r) + math.log(math.sqrt(2.0) * tau) +
          s(ai * q + r) - vs(r) * vs(r) / (2 * s2) - logSigma - halfLog2Pi
        if (c(r) > m) m = c(r)
        r += 1
      }
      var sumExp = 0.0
      r = 0
      while (r < q) { sumExp += math.exp(c(r) - m); r += 1 }
      val logLi = m + math.log(sumExp)
      nll -= logLi
      val a = new Array[Double](q)
      r = 0
      while (r < q) {
        a(r) = math.exp(c(r) - logLi)
        var f = 0
        while (f < k) { grad(f) -= a(r) * g((ai * q + r) * k + f); f += 1 }
        grad(k) -= a(r) * (vs(r) * vs(r) / s2 - 1.0)
        r += 1
      }
      post(ai) = a
      ai += 1
    }
    (nll, DenseVector(grad), post)
  }

  /** Fit by outer re-adaptation + inner L-BFGS. `init` seeds both the
    * first Laplace centering and the optimizer ([[Glmm.fitLogistic]] +
    * a prior sigma guess is the natural initializer, mirroring the
    * reference's glmer-then-EM ordering).
    *
    * The design is collapsed to its [[CellDesign]] first (one shuffle,
    * exact — see [[Em.fit]]). A dimension-sized table runs the whole
    * quadrature fit on the driver; a larger one stays distributed, one
    * `treeAggregate` over the cached cells per Newton pass and per
    * L-BFGS evaluation.
    *
    * Boundary note: when the data carry little between-area variance
    * the ML optimum sits near sigma = 0 and the log-sigma direction
    * flattens; Breeze may log a recoverable "line search zoom failed"
    * reset there (lme4 emits the analogous boundary-fit warning). The
    * returned fit is still the converged interior-or-near-boundary
    * optimum — `converged` reflects the OUTER fixed point.
    */
  def fit(df: DataFrame, yCol: String, featureCols: Seq[String],
          areaCol: String, init: Em.Params, numNodes: Int = 9,
          tol: Double = 1e-3, maxOuter: Int = 15,
          innerIter: Int = 40): Fit =
    CellDesign.using(df, yCol, featureCols, col(areaCol))(
      fitDesign(_, init, numNodes, tol, maxOuter, innerIter))

  /** [[fit]] over an already-built design. */
  private[graft] def fitDesign(d: CellDesign, init: Em.Params, numNodes: Int,
                               tol: Double, maxOuter: Int,
                               innerIter: Int): Fit = {
    val k = d.k
    val (z, w) = hermiteNodes(numNodes)
    val sqrt2 = math.sqrt(2.0)
    def nodes(modes: Seq[Em.AreaMode]): Array[Array[Double]] =
      modes.map(m => z.map(zq => m.vhat + sqrt2 * m.tau * zq)).toArray
    val scale = 1.0 / d.totalN
    var beta = init.beta
    var sigma = math.sqrt(init.sigmaSq)
    var modes: Seq[Em.AreaMode] = Nil
    var outer = 0
    var converged = false
    while (outer < maxOuter && !converged) {
      modes = Em.laplace(d, Em.Params(beta, sigma * sigma), 3.0,
        modes.map(m => m.area -> m.vhat).toMap)
      val nodesByArea = nodes(modes)
      val thetaInit = DenseVector((beta.toArray :+
        // clamp keeps the unconstrained parametrization sane if a
        // caller seeds sigma ~ 0; optimum interior for any real fit
        math.max(math.log(math.max(sigma, 1e-6)), -10.0)): _*)
      val theta = Optimize.lbfgsMin({ th =>
        val stats = nodeStats(d, nodesByArea, th(0 until k).toArray)
        val (nll, grad, _) = marginalNllGrad(stats, modes, nodesByArea,
          z, w, th)
        (nll * scale, grad * scale)
      }, thetaInit, innerIter)
      val newBeta = theta(0 until k).copy
      val newSigma = math.exp(theta(k))
      val dB = breeze.linalg.max(breeze.numerics.abs(newBeta - beta))
      val dS = math.abs(newSigma - sigma)
      beta = newBeta
      sigma = newSigma
      converged = dB < tol && dS < tol
      outer += 1
    }
    // L-BFGS's final evaluation is at (or next to) the returned
    // minimizer; recompute exactly at the fitted theta for the
    // reported logLik/BLUPs
    val nodesByArea = nodes(modes)
    val stats = nodeStats(d, nodesByArea, beta.toArray)
    val thetaFit = DenseVector((beta.toArray :+ math.log(sigma)): _*)
    val (nll, _, post) = marginalNllGrad(stats, modes, nodesByArea, z, w,
      thetaFit)
    val ranef = modes.zipWithIndex.map { case (m, ai) =>
      val a = post(ai)
      val vs = nodesByArea(ai)
      var mean = 0.0; var m2 = 0.0
      var r = 0
      while (r < a.length) { mean += a(r) * vs(r); m2 += a(r) * vs(r) * vs(r); r += 1 }
      (m.area, mean, math.sqrt(math.max(0.0, m2 - mean * mean)))
    }
    Fit(beta, sigma, -nll, ranef, outer, converged)
  }
}
