package graft.stats

import breeze.linalg.DenseVector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.util.hashing.MurmurHash3

import graft.etl.Encodings
import graft.rel.Relational

/** Parametric bootstrap for MSPE (SURVEY.md M7-M8;
  * `Method_code.Rmd:557-758`).
  *
  * Per replicate b: draw v_b ~ N(0, sigma) per area (driver RNG, keyed
  * by (seed, b, area) — the reference's in-loop `set.seed` makes all
  * replicates identical, SURVEY.md Q4; we implement the documented
  * intended semantics of independent replicates), simulate
  * y* ~ Bernoulli(sigmoid(x'beta + v_b)) on the small survey, refit the
  * EM engine on the simulated outcome, compute the EBP estimate and the
  * replicate "truth" on the big survey, and finally
  * MSPE_area = sqrt(mean_b (truth_b - est_b)^2).
  *
  * Row-level Bernoulli uses a hash-keyed uniform (xxhash64 of the row id
  * + replicate + seed) instead of `rand()`, so results are invariant to
  * partitioning and task retries — a correctness requirement at cluster
  * scale, not a style choice.
  */
object Bootstrap {

  /** N(0, sigma) per area, keyed RNG. */
  def drawAreaEffects(areas: Seq[String], sigma: Double, seed: Long,
                      b: Int): Map[String, Double] =
    areas.map { a =>
      val rng = new java.util.Random(
        seed ^ (MurmurHash3.stringHash(a).toLong << 13) ^ (b * 0x9E3779B9L))
      a -> sigma * rng.nextGaussian()
    }.toMap

  /** Partitioning-invariant uniform in [0,1) keyed on id columns. */
  def keyedUniform(idCols: Seq[String], seed: Long, b: Int) =
    (pmod(xxhash64(idCols.map(col) :+ lit(seed) :+ lit(b): _*),
      lit(1000000007L)).cast("double") / lit(1000000007.0))

  /** Simulate the binary outcome y* on `df` under (beta, sigma)
    * (Method_code.Rmd:564-586 — also the generative model for the
    * recovery tests, FIXTURES.md A4).
    */
  def simulateOutcome(df: DataFrame, beta: DenseVector[Double],
                      featureCols: Seq[String], areaCol: String,
                      vB: Map[String, Double], idCols: Seq[String],
                      seed: Long, b: Int, yCol: String = "y_sim"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val vDf = vB.toSeq.toDF(areaCol, "v_b")
    val theta = Encodings.sigmoid(
      Glmm.xBetaCol(beta, featureCols) + coalesce(col("v_b"), lit(0.0)))
    df.join(broadcast(vDf), Seq(areaCol), "left")
      .withColumn(yCol,
        (keyedUniform(idCols, seed, b) < theta).cast("int"))
      .drop("v_b")
  }

  /** Replicate "truth": weighted mean of sigmoid(x'beta + v_b) over the
    * big survey (Method_code.Rmd:689-696).
    */
  def replicateTruth(big: DataFrame, beta: DenseVector[Double],
                     featureCols: Seq[String], areaCol: String, wCol: String,
                     vB: Map[String, Double], scale: Double = 100.0): DataFrame = {
    val spark = big.sparkSession
    import spark.implicits._
    val vDf = vB.toSeq.toDF(areaCol, "v_b")
    val theta = Encodings.sigmoid(
      Glmm.xBetaCol(beta, featureCols) + coalesce(col("v_b"), lit(0.0)))
    Relational.weightedMean(
      big.join(broadcast(vDf), Seq(areaCol), "left").withColumn("theta", theta),
      Seq(areaCol), col("theta"), col(wCol).cast("double"), scale, "truth")
  }

  /** Full bootstrap: B replicates -> per-area RMSE of (truth - est).
    * Replicates are independent job DAGs and are SUBMITTED CONCURRENTLY
    * from driver threads (`concurrency` at a time): Spark's scheduler
    * interleaves their stages, so cluster slots stay busy while any one
    * replicate sits in a driver-side step (L-BFGS line search, Newton
    * updates). Results are order-independent — every random stream is
    * keyed by (seed, replicate, unit), not by execution interleaving.
    * Default concurrency 2 — a LIBRARY default sized for memory
    * safety: each in-flight replicate caches its simulated survey, so
    * the default bounds peak storage pressure for arbitrary callers
    * (ADVICE r14). Callers whose replicates' cell designs fit on the
    * driver (single-threaded EM math per replicate, cluster idle)
    * should pass a higher value to overlap those fits (guide §2.6);
    * the m05/m11 bench entries pass 8, the round-14-measured sweet spot
    * (m11 8.12 -> 6.29 s solo).
    *
    * Per-replicate EM initialization (`initScheme`):
    *   - `"reference"` (default) — the reference's scheme
    *     (`Method_code.Rmd:611-614`): fixed constants sigma = 0.1,
    *     every beta = 0.1, iterate to `tol`. (The reference also fits
    *     glmer on each replicate at `Method_code.Rmd:602-607`, but only
    *     to PRINT diagnostics — the EM init is the constants.)
    *   - `"refit"` — seed beta from a per-replicate logistic refit on
    *     the simulated outcome (+ truth sigma^2). A deliberate
    *     divergence: starts near the optimum so a small `emIters` cap
    *     suffices — the bench configuration.
    */
  def mspe(small: DataFrame, big: DataFrame, yCol: String,
           featureCols: Seq[String], areaCol: String, wCol: String,
           idCols: Seq[String], truth: Em.Params, numB: Int,
           seed: Long = 42L, numDraws: Int = 200, emIters: Int = 5,
           ebpDraws: Int = 100, initScheme: String = "reference",
           tol: Double = 0.01, concurrency: Int = 2): DataFrame = {
    require(Set("reference", "refit")(initScheme),
      s"initScheme must be reference|refit, got $initScheme")
    val areas = big.select(areaCol).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    val sigma = math.sqrt(truth.sigmaSq)
    def replicate(b: Int): DataFrame = {
      val vB = drawAreaEffects(areas, sigma, seed, b)
      val sim = simulateOutcome(small, truth.beta, featureCols, areaCol, vB,
        idCols, seed, b).cache()
      val fit =
        try {
          val init =
            if (initScheme == "refit") Em.Params(
              Glmm.fitLogistic(sim, "y_sim", featureCols), truth.sigmaSq)
            else Em.Params(
              DenseVector.fill(featureCols.length + 1)(0.1), 0.1 * 0.1)
          Em.fit(sim, "y_sim", featureCols, areaCol, init,
            numDraws = numDraws, tol = tol, maxIter = emIters, seed = seed + b)
        } finally sim.unpersist(blocking = false)
      val est = Em.ebp(big, fit.params, featureCols, areaCol, wCol,
        fit.draws, ebpDraws)
      val tru = replicateTruth(big, truth.beta, featureCols, areaCol, wCol, vB)
      est.join(tru, Seq(areaCol)).withColumn("boot_id", lit(b))
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(numB, concurrency)))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val perB =
      try scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(
          (1 to numB).map(b => scala.concurrent.Future(replicate(b)))),
        scala.concurrent.duration.Duration.Inf)
      finally pool.shutdown()
    Relational.unionAll(perB)
      .groupBy(areaCol)
      .agg(sqrt(avg(pow(col("truth") - col("ebp"), 2))).as("mspe"))
  }
}
