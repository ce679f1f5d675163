package graft.stats

import breeze.linalg.DenseVector
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
import scala.util.hashing.MurmurHash3

/** Adjusted-likelihood EM for the logistic random-intercept model —
  * the reference's core algorithm (SURVEY.md M3-M5; `Method_code.Rmd:
  * 215-454`, paper arXiv:2305.12336).
  *
  * The data enter only through their [[CellDesign]] (one scan).
  * Per EM iteration:
  *   1. per-area Laplace mode/curvature — safeguarded Newton root-find
  *      of g'(v), one design `aggregate` per Newton step over all areas
  *      at once
  *   2. Monte-Carlo draws v~N(vhat,tau) — driver-side keyed RNG
  *      (deterministic in (seed, iteration, area); areas x draws is
  *      dimension-sized, so no cluster work needed)
  *   3a. sigma^2 closed-form maximizer of the adjusted-likelihood
  *      Q-function (SURVEY.md Q2): sigma^2 = mean_r(sum_i n_i v_ir^2)/(n-2)
  *   3b. beta via driver L-BFGS; each objective call is ONE design
  *      `aggregate` — the cells-x-draws "join" is computed on the fly
  *      per cell, never materialized (SURVEY.md §7 risk 2).
  *
  * Numerical divergences from the literal R (documented, intended
  * semantics per SURVEY.md Q1-Q4): likelihoods in log space (Q3), the
  * passed intercept is used (Q1), independent keyed RNG streams (Q4).
  */
object Em {

  case class Params(beta: DenseVector[Double], sigmaSq: Double)

  /** Laplace mode and curvature for one area (Method_code.Rmd:252-274). */
  case class AreaMode(area: String, vhat: Double, tau: Double, n: Long)

  case class Fit(params: Params, modes: Seq[AreaMode],
                 draws: Map[String, Array[Double]], iters: Int,
                 converged: Boolean)

  /** Step 1 — per-area Laplace approximation. Maximizes
    *   log g(v) = -v^2/(2 sigma^2) + sum_j [ y_j (xb_j+v) - log1pexp(xb_j+v) ]
    * over v in [-vBound, vBound] (reference bound 3, Method_code.Rmd:220)
    * and returns curvature tau^2 = (1/sigma^2 + sum_j p_j (1-p_j))^-1.
    * Builds the [[CellDesign]] of `df` and runs [[laplace]] on it.
    */
  def laplaceModes(df: DataFrame, params: Params, featureCols: Seq[String],
                   areaCol: String, yCol: String,
                   vBound: Double = 3.0,
                   warmStart: Map[String, Double] = Map.empty): Seq[AreaMode] =
    CellDesign.using(df, yCol, featureCols, col(areaCol))(
      laplace(_, params, vBound, warmStart))

  /** g'(v) and -g''(v) per area at the per-area points `v`, cell-weighted:
    *   g'(v) = sum_c (sumY_c - m_c p_c) - v/sigma^2,
    *   info  = sum_c m_c p_c (1-p_c) + 1/sigma^2,   p_c = sigmoid(x_c'beta + v).
    * One [[CellDesign.aggregate]] for all areas at once.
    */
  private[graft] def laplaceGradInfo(d: CellDesign, params: Params,
                                     v: Array[Double]): (Array[Double], Array[Double]) = {
    val b = params.beta.toArray
    val k = b.length
    val sums = d.aggregate(new Array[Double](2 * v.length))({ (acc, c) =>
      var eta = 0.0
      var i = 0
      while (i < k) { eta += b(i) * c.x(i); i += 1 }
      val p = Glmm.sigmoidD(eta + v(c.area))
      acc(2 * c.area) += c.sumY - c.m * p
      acc(2 * c.area + 1) += c.m * p * (1.0 - p)
      acc
    }, CellDesign.addInto)
    (Array.tabulate(v.length)(a => sums(2 * a) - v(a) / params.sigmaSq),
      Array.tabulate(v.length)(a => sums(2 * a + 1) + 1.0 / params.sigmaSq))
  }

  /** Laplace modes over a design. log g is strictly concave, so the
    * mode is the unique root of g'(v), found by a safeguarded Newton
    * (bisection fallback keeps a bracket, since g' is strictly
    * decreasing). Each pass is one [[laplaceGradInfo]] for every area;
    * an area stops moving once its step, its bracket or the bound says
    * it has converged.
    */
  private[graft] def laplace(d: CellDesign, params: Params, vBound: Double,
                             warmStart: Map[String, Double]): Seq[AreaMode] = {
    val nA = d.areas.length
    val v = d.areas.map(a =>
      math.max(-vBound, math.min(vBound, warmStart.getOrElse(a, 0.0))))
    val lo = Array.fill(nA)(-vBound)
    val hi = Array.fill(nA)(vBound)
    val tau = new Array[Double](nA)
    val open = Array.fill(nA)(true)
    var nOpen = nA
    var pass = 0
    while (nOpen > 0 && pass < 40) {
      val (g, info) = laplaceGradInfo(d, params, v)
      var a = 0
      while (a < nA) {
        if (open(a)) {
          tau(a) = math.sqrt(1.0 / info(a))
          if (g(a) > 0) lo(a) = math.max(lo(a), v(a))
          else hi(a) = math.min(hi(a), v(a))
          val step = g(a) / info(a)
          val atBound = (v(a) >= vBound && g(a) > 0) || (v(a) <= -vBound && g(a) < 0)
          if (math.abs(step) < 1e-10 || hi(a) - lo(a) < 1e-12 || atBound) {
            open(a) = false
            nOpen -= 1
          } else {
            var cand = v(a) + step
            if (cand <= lo(a) || cand >= hi(a)) cand = (lo(a) + hi(a)) / 2
            v(a) = math.max(-vBound, math.min(vBound, cand))
          }
        }
        a += 1
      }
      pass += 1
    }
    // pass cap hit (should not happen for a concave objective): emit
    // the best bracketed value with the curvature of its last pass,
    // and say so out loud
    (0 until nA).filter(open).foreach { a =>
      System.err.println(
        s"[graft.Em] laplace: area '${d.areas(a)}' hit the pass cap without " +
          s"converging (v=${v(a)}, bracket=[${lo(a)}, ${hi(a)}]); " +
          "emitting best bracketed value")
    }
    (0 until nA).map(a => AreaMode(d.areas(a), v(a), tau(a), d.nByArea(a)))
  }

  /** Step 2 — v-tilde draws, keyed RNG: stream seeded by
    * (seed, iteration, area) so results are invariant to partitioning
    * and iteration order (SURVEY.md Q4 corrected semantics).
    */
  def simulateDraws(modes: Seq[AreaMode], numDraws: Int, seed: Long,
                    iter: Int): Map[String, Array[Double]] =
    modes.map { m =>
      val rng = new java.util.Random(
        seed ^ (MurmurHash3.stringHash(m.area).toLong << 17) ^ (iter * 0x9E3779B9L))
      m.area -> Array.fill(numDraws)(m.vhat + m.tau * rng.nextGaussian())
    }.toMap

  /** Step 3a — closed-form maximizer of the adjusted-likelihood
    * Q(sigma^2) = log s2 - (n/2) log s2 - mean_r(sum_i n_i v_ir^2)/(2 s2)
    * (Method_code.Rmd:301-310; SURVEY.md Q2): s2 = S/(n-2),
    * S = mean over draws of sum_i n_i v_ir^2.
    */
  def updateSigmaSq(draws: Map[String, Array[Double]],
                    nByArea: Map[String, Long], totalN: Long): Double = {
    val numDraws = draws.head._2.length
    var s = 0.0
    draws.foreach { case (a, vs) =>
      val ni = nByArea(a).toDouble
      var r = 0
      while (r < vs.length) { s += ni * vs(r) * vs(r); r += 1 }
    }
    math.max(s / numDraws / (totalN - 2.0), 1e-8)
  }

  /** Step 3b objective — the MC-averaged NLL per row,
    *   h(beta) = (1/n) sum_c [ m_c mean_r log1pexp(eta_c + v_{a(c),r}) - sumY_c eta_c ]
    * (constant -sum_j y_j vbar_{a(j)} dropped; same argmin), and its
    * gradient (1/n) sum_c (m_c mean_r sigmoid(eta_c + v_r) - sumY_c) x_c.
    * `draws(a)` are the draws of `d.areas(a)`. The 1/n scale keeps
    * L-BFGS line searches the same at any data size.
    */
  private[graft] def betaObjective(d: CellDesign, draws: Array[Array[Double]],
                                   beta: DenseVector[Double]): (Double, DenseVector[Double]) = {
    val k = beta.length
    val b = beta.toArray
    // [grad_0 .. grad_{k-1}, loss]
    val acc = d.aggregate(new Array[Double](k + 1))({ (acc, c) =>
      var eta = 0.0
      var i = 0
      while (i < k) { eta += b(i) * c.x(i); i += 1 }
      val vs = draws(c.area)
      var sumLog = 0.0; var sumP = 0.0
      var r = 0
      while (r < vs.length) {
        val (l, p) = Glmm.log1pExpSigmoid(eta + vs(r))
        sumLog += l
        sumP += p
        r += 1
      }
      val mLog = sumLog / vs.length
      val mP = sumP / vs.length
      acc(k) += c.m * mLog - c.sumY * eta
      i = 0
      while (i < k) { acc(i) += (c.m * mP - c.sumY) * c.x(i); i += 1 }
      acc
    }, CellDesign.addInto)
    val scale = 1.0 / d.totalN
    (acc(k) * scale, DenseVector(acc.take(k)) * scale)
  }

  /** Outer EM loop (Method_code.Rmd:352-390): iterate to convergence,
    * tol on sigma and on every beta coordinate (reference tol = 0.01).
    *
    * The design is first collapsed to its [[CellDesign]] (one scan).
    * A categorical design is dimension-sized and the whole loop then
    * runs on the driver, each Newton pass and L-BFGS evaluation one
    * chunked [[CellDesign.aggregate]] over the driver's cores; a table
    * too large for the driver stays distributed, and each of them
    * becomes one Spark job over the cached cells. Either way the fit is
    * the same on any number of threads. Fails on fewer than three rows,
    * where the sigma^2 update has no finite value, and on fewer than
    * one draw or one iteration.
    */
  def fit(df: DataFrame, yCol: String, featureCols: Seq[String],
          areaCol: String, init: Params, numDraws: Int = 1000,
          tol: Double = 0.01, maxIter: Int = 50, seed: Long = 42L,
          vBound: Double = 3.0): Fit =
    CellDesign.using(df, yCol, featureCols, col(areaCol))(
      fitDesign(_, init, numDraws, tol, maxIter, seed, vBound))

  /** [[fit]] over an already-built design. */
  private[graft] def fitDesign(d: CellDesign, init: Params, numDraws: Int,
                               tol: Double, maxIter: Int, seed: Long,
                               vBound: Double): Fit = {
    // no draw makes sigma^2 and the beta objective 0/0; no iteration
    // returns the init with no draws for the EBP to score
    require(numDraws >= 1, s"numDraws must be at least 1, got $numDraws")
    require(maxIter >= 1, s"maxIter must be at least 1, got $maxIter")
    val nByArea = d.areas.zip(d.nByArea).toMap
    var params = init
    var modes: Seq[AreaMode] = Nil
    var draws: Map[String, Array[Double]] = Map.empty
    var k = 0
    var converged = false
    while (k < maxIter && !converged) {
      // warm-start each area's root-find from the previous iteration's
      // mode (beta moves little between EM steps -> ~2 fewer passes)
      modes = laplace(d, params, vBound,
        warmStart = modes.map(m => m.area -> m.vhat).toMap)
      draws = simulateDraws(modes, numDraws, seed, k)
      val s2 = updateSigmaSq(draws, nByArea, d.totalN)
      // Step 3b — beta by driver L-BFGS over the cells
      val beta = Optimize.lbfgsMin(betaObjective(d, d.areas.map(draws), _),
        params.beta, 50)
      val dSigma = math.abs(math.sqrt(s2) - math.sqrt(params.sigmaSq))
      val dBeta = breeze.linalg.max(breeze.numerics.abs(beta - params.beta))
      converged = dSigma < tol && dBeta < tol
      params = Params(beta, s2)
      k += 1
    }
    Fit(params, modes, draws, k, converged)
  }

  /** Compress a design to its distinct-covariate cell table:
    * groupBy(area, features) -> (n = count, m = n, sumY0 = sum y);
    * see [[CellDesign.compress]].
    */
  def compressCells(df: DataFrame, yCol: String, featureCols: Seq[String],
                    areaCol: String): DataFrame =
    CellDesign.compress(df, Seq(yCol), featureCols, col(areaCol), None)

  /** EBP per-area estimates (Method_code.Rmd:406-454): for each unit of
    * the big survey, posterior-mean probability = mean over the first
    * `ebpDraws` draws of sigmoid(x'beta + v~); areas without draws
    * (reference MT/SD rule, SURVEY.md Q6) score with v = 0. Then the
    * weighted mean per area, x `scale`.
    *
    * The estimate reads the big survey only through (area, x, sum w), so
    * `big` is reduced to its weighted [[CellDesign]] (one scan) and
    * scored by [[scoreAreas]]: one pass over the cells, each cell's
    * mean over draws weighted by its weight total. Returns a local
    * DataFrame (`areaCol` as a string, `ebp`), one row per area of
    * `big`, sorted by area. A null area, feature or weight fails,
    * naming the column.
    */
  def ebp(big: DataFrame, params: Params, featureCols: Seq[String],
          areaCol: String, wCol: String, draws: Map[String, Array[Double]],
          ebpDraws: Int = 100, scale: Double = 100.0): DataFrame =
    CellDesign.usingWeighted(big, wCol, featureCols, col(areaCol)) { d =>
      val est = scoreAreas(d, Seq(params.beta -> areaDraws(d, draws, ebpDraws)),
        scale).head
      areaFrame(big.sparkSession, areaCol, "ebp", d.areas, est)
    }

  /** `draws` aligned with `d.areas`, the first `take` of each; an area
    * without draws gets the single draw v = 0.
    */
  private[graft] def areaDraws(d: CellDesign, draws: Map[String, Array[Double]],
                               take: Int): Array[Array[Double]] = {
    require(take > 0, s"ebpDraws must be positive, got $take")
    d.areas.map(a => draws.get(a).fold(Array(0.0))(_.take(take)))
  }

  /** Weighted per-area means of mean_r sigmoid(x_c'beta + v_{a,r}), x
    * `scale`, over a weighted design: sum_c W_c mean_r p_cr / sum_c W_c
    * per area, for every (beta, draws aligned with `d.areas`) scoring at
    * once in ONE [[CellDesign.aggregate]]. The EBP is one scoring; the
    * bootstrap scores all its replicate estimates and truths together.
    */
  private[graft] def scoreAreas(d: CellDesign,
                                scorings: Seq[(DenseVector[Double], Array[Array[Double]])],
                                scale: Double): Seq[Array[Double]] = {
    val nA = d.areas.length
    val ns = scorings.length
    val betas = scorings.map(_._1.toArray).toArray
    val draws = scorings.map(_._2).toArray
    val k = d.k
    // [sum_c W_c p_c per (scoring, area) .. , sum_c W_c per area]
    val acc = d.aggregate(new Array[Double]((ns + 1) * nA))({ (acc, c) =>
      var s = 0
      while (s < ns) {
        val b = betas(s)
        var eta = 0.0
        var i = 0
        while (i < k) { eta += b(i) * c.x(i); i += 1 }
        val vs = draws(s)(c.area)
        var sumP = 0.0
        var r = 0
        while (r < vs.length) { sumP += Glmm.sigmoidD(eta + vs(r)); r += 1 }
        acc(s * nA + c.area) += c.m * (sumP / vs.length)
        s += 1
      }
      acc(ns * nA + c.area) += c.m
      acc
    }, CellDesign.addInto)
    (0 until ns).map(s =>
      Array.tabulate(nA)(a => scale * acc(s * nA + a) / acc(ns * nA + a)))
  }

  /** A local (area string, `name` double) DataFrame. */
  private[stats] def areaFrame(spark: SparkSession, areaCol: String, name: String,
                               areas: Array[String], values: Array[Double]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(areas.indices.map(a => Row(areas(a), values(a))): _*),
      StructType(Seq(StructField(areaCol, StringType), StructField(name, DoubleType))))
}
