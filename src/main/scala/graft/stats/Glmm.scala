package graft.stats

import breeze.linalg.DenseVector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.etl.Encodings

/** Distributed logistic regression + mixed-model scoring
  * (SURVEY.md M1/M2; reference `glmer`/`predict`,
  * `Method_code.Rmd:68-81,171-181`).
  *
  * The fixed-effects fit minimizes the logistic NLL with Breeze L-BFGS
  * on the driver over the data's [[CellDesign]]: each objective
  * evaluation is one design `aggregate` — a driver loop over a
  * dimension-sized cell table, or a `treeAggregate` over cached cells
  * when the table is large (the mllib LogisticRegression pattern), so
  * communication stays O(numFeatures * log(numPartitions)) and no
  * per-row data ever reaches the driver.
  *
  * The random-intercept SD is NOT estimated here — per the paper, the
  * engine's own EM (graft.stats.Em) replaces glmer's integral
  * approximation; this fit is the initializer/benchmark, exactly the
  * role glmer plays in the reference (`Method_code.Rmd:592-593`).
  */
object Glmm {

  /** log(1 + e^x) without overflow. */
  def log1pExp(x: Double): Double =
    if (x > 0) x + math.log1p(math.exp(-x)) else math.log1p(math.exp(x))

  def sigmoidD(x: Double): Double =
    if (x >= 0) 1.0 / (1.0 + math.exp(-x)) else { val e = math.exp(x); e / (1.0 + e) }

  /** (NLL, gradient) of logistic regression over a cell design, per
    * row: (1/n) sum_c [ m_c log1pexp(eta_c) - sumY_c eta_c ], gradient
    * (1/n) sum_c (m_c sigmoid(eta_c) - sumY_c) x_c; optional L2 ridge
    * for separation robustness. The 1/n scale keeps L-BFGS line
    * searches the same at any data size.
    */
  private[graft] def nll(d: CellDesign, beta: DenseVector[Double],
                         l2: Double): (Double, DenseVector[Double]) = {
    val k = beta.length
    val b = beta.toArray
    // [grad_0 .. grad_{k-1}, loss]
    val acc = d.aggregate(new Array[Double](k + 1))({ (acc, c) =>
      var eta = 0.0
      var i = 0
      while (i < k) { eta += b(i) * c.x(i); i += 1 }
      val p = sigmoidD(eta)
      acc(k) += c.m * log1pExp(eta) - c.sumY * eta
      i = 0
      while (i < k) { acc(i) += (c.m * p - c.sumY) * c.x(i); i += 1 }
      acc
    }, CellDesign.addInto)
    val scale = 1.0 / d.totalN
    val gv = DenseVector(acc.take(k)) * scale
    val sLoss = acc(k) * scale
    if (l2 > 0) (sLoss + 0.5 * l2 * (beta dot beta), gv + beta * l2)
    else (sLoss, gv)
  }

  /** Fit fixed-effects logistic regression; returns beta with intercept
    * at index 0 (feature order = featureCols).
    *
    * The design is collapsed to its distinct-covariate cells with one
    * constant area ([[CellDesign]]: one map-side-combining shuffle),
    * and L-BFGS runs over the weighted cells — exact, since y enters
    * the NLL linearly. A categorical design has few cells whatever the
    * row count and is fitted on the driver; a larger table (continuous
    * covariates) is fitted by `treeAggregate` over the cached cells.
    */
  def fitLogistic(df: DataFrame, yCol: String, featureCols: Seq[String],
                  l2: Double = 1e-8, maxIter: Int = 100): DenseVector[Double] =
    CellDesign.using(df, yCol, featureCols, lit(""))(fitDesign(_, l2, maxIter))

  /** [[fitLogistic]] over an already-built design. */
  private[graft] def fitDesign(d: CellDesign, l2: Double,
                               maxIter: Int): DenseVector[Double] =
    Optimize.lbfgsMin(nll(d, _, l2), DenseVector.zeros[Double](d.k), maxIter)

  /** Linear-predictor Column from a fitted beta (intercept at index 0),
    * the Column-algebra mirror of the reference's `x_beta_func`
    * (`Method_code.Rmd:94-140`). Implements intended semantics per
    * SURVEY.md Q1: uses the passed intercept, not a global.
    */
  def xBetaCol(beta: DenseVector[Double], featureCols: Seq[String]): Column =
    Encodings.xBeta(beta(0),
      featureCols.zipWithIndex.map { case (c, i) =>
        (col(c).cast("double"), beta(i + 1))
      })

  /** Mixed-model scoring (reference `predict` with `re.form=~(1|state)`,
    * `Method_code.Rmd:171-181`): sigmoid(x'beta + u_area), where areas
    * absent from the random-effect table get u = 0 — the general rule
    * behind the reference's MT/SD special-case (SURVEY.md Q6). The
    * random-effect side is area-level (small) → broadcast join.
    */
  def scoreWithRanef(df: DataFrame, beta: DenseVector[Double],
                     featureCols: Seq[String], ranef: DataFrame,
                     areaCol: String, uCol: String = "u",
                     as: String = "p"): DataFrame =
    df.join(broadcast(ranef.select(col(areaCol), col(uCol))),
        Seq(areaCol), "left")
      .withColumn(as,
        Encodings.sigmoid(xBetaCol(beta, featureCols) +
          coalesce(col(uCol), lit(0.0))))
      .drop(uCol)

  /** MRP — multilevel regression + post-stratification (Gelman &
    * Little 1997; the modern small-area celebrity tying the multilevel
    * fit (M1) to the post-stratification table (M14)): the fitted
    * model predicts p for every POPULATION covariate cell, and the
    * area estimate is the cell-count-weighted mean of those
    * predictions. `big` is the unit-level population frame; it is
    * first collapsed to (area × covariate-cell) weight totals — at
    * 100 TB that single map-side-combining groupBy is the only pass
    * over the frame, and everything after is dimension-sized (cells ×
    * areas) with the random-effect table broadcast via
    * [[scoreWithRanef]]. Areas absent from `ranef` predict at u = 0
    * (the Q6 coalesce rule).
    */
  def mrp(big: DataFrame, beta: DenseVector[Double],
          featureCols: Seq[String], ranef: DataFrame,
          areaCol: String, weightCol: String,
          scale: Double = 100.0): DataFrame = {
    val cells = big.groupBy(areaCol, featureCols: _*)
      .agg(sum(weightCol).as("n_cell"))
    scoreWithRanef(cells, beta, featureCols, ranef, areaCol)
      .groupBy(areaCol)
      .agg((sum(col("n_cell") * col("p")) / sum("n_cell") * scale)
        .as("mrp"))
  }
}
