package graft.stats

import breeze.linalg.DenseVector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.util.hashing.MurmurHash3

import graft.etl.Encodings

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
    * recovery tests, FIXTURES.md A4). Areas missing from `vB` get
    * v = 0. The area effect is a lookup in a map literal, not a join,
    * so simulating B outcomes on one frame adds no Spark job per
    * outcome.
    */
  def simulateOutcome(df: DataFrame, beta: DenseVector[Double],
                      featureCols: Seq[String], areaCol: String,
                      vB: Map[String, Double], idCols: Seq[String],
                      seed: Long, b: Int, yCol: String = "y_sim"): DataFrame = {
    val theta = Encodings.sigmoid(Glmm.xBetaCol(beta, featureCols) +
      coalesce(try_element_at(typedLit(vB), col(areaCol)), lit(0.0)))
    df.withColumn(yCol, (keyedUniform(idCols, seed, b) < theta).cast("int"))
  }

  /** Full bootstrap: B replicates -> per-area RMSE of (truth - est).
    *
    * The replicates read each survey through one cell table:
    *   - the small survey's B simulated outcomes are B columns
    *     (`y_sim_1` .. `y_sim_B`, each [[simulateOutcome]] with its
    *     replicate's keyed draws) of ONE scan, reduced to B
    *     [[CellDesign]]s that share the cells and differ only in sumY;
    *   - the big survey is ONE weighted design, on which every
    *     replicate's EBP and truth, the weighted mean of
    *     sigmoid(x'beta + v_b) (Method_code.Rmd:689-696), are scored
    *     together in one pass ([[Em.scoreAreas]]).
    * So the Spark work does not grow with B. The B EM refits run on the
    * driver, `concurrency` at a time on a thread pool, and each refit's
    * design aggregates fork onto the ForkJoin common pool. Results are
    * order-independent — every random stream is keyed by (seed,
    * replicate, unit or area), and every sum runs in a fixed order, not
    * in the order of execution. Returns a local DataFrame (`areaCol` as
    * a string, `mspe`), one row per area of `big`, sorted by area.
    *
    * Per-replicate EM initialization (`initScheme`):
    *   - `"reference"` (default) — the reference's scheme
    *     (`Method_code.Rmd:611-614`): fixed constants sigma = 0.1,
    *     every beta = 0.1, iterate to `tol`. (The reference also fits
    *     glmer on each replicate at `Method_code.Rmd:602-607`, but only
    *     to PRINT diagnostics — the EM init is the constants.)
    *   - `"refit"` — seed beta from a per-replicate logistic fit on
    *     the simulated outcome ([[Glmm.fitDesign]] over the replicate's
    *     design summed over areas, the table [[Glmm.fitLogistic]]
    *     would build) + truth sigma^2. A deliberate divergence: starts
    *     near the optimum so a small `emIters` cap suffices — the bench
    *     configuration.
    */
  def mspe(small: DataFrame, big: DataFrame, yCol: String,
           featureCols: Seq[String], areaCol: String, wCol: String,
           idCols: Seq[String], truth: Em.Params, numB: Int,
           seed: Long = 42L, numDraws: Int = 200, emIters: Int = 5,
           ebpDraws: Int = 100, initScheme: String = "reference",
           tol: Double = 0.01, concurrency: Int = 2): DataFrame = {
    require(Set("reference", "refit")(initScheme),
      s"initScheme must be reference|refit, got $initScheme")
    require(numB >= 1, s"numB must be at least 1, got $numB")
    require(numDraws >= 1, s"numDraws must be at least 1, got $numDraws")
    require(emIters >= 1, s"emIters must be at least 1, got $emIters")
    require(concurrency >= 1, s"concurrency must be at least 1, got $concurrency")
    val sigma = math.sqrt(truth.sigmaSq)
    val reps = 1 to numB
    CellDesign.usingWeighted(big, wCol, featureCols, col(areaCol)) { bigD =>
      val vBs = reps.map(b => drawAreaEffects(bigD.areas.toSeq, sigma, seed, b))
      val sim = reps.foldLeft(small)((df, b) => simulateOutcome(df, truth.beta,
        featureCols, areaCol, vBs(b - 1), idCols, seed, b, s"y_sim_$b"))
      val fits = CellDesign.usingAll(sim, reps.map(b => s"y_sim_$b"), featureCols,
          col(areaCol), None) { designs =>
        def fit(b: Int): Em.Fit = {
          val d = designs(b - 1)
          val init =
            if (initScheme == "refit")
              Em.Params(Glmm.fitDesign(d.pooled), truth.sigmaSq)
            else Em.Params(DenseVector.fill(featureCols.length + 1)(0.1), 0.1 * 0.1)
          Em.fitDesign(d, init, numDraws, tol, emIters, seed + b, vBound = 3.0)
        }
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(numB, concurrency))
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        try scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(reps.map(b => scala.concurrent.Future(fit(b)))),
          scala.concurrent.duration.Duration.Inf)
        finally pool.shutdown()
      }
      val scores = Em.scoreAreas(bigD,
        reps.map(b => fits(b - 1).params.beta -> Em.areaDraws(bigD, fits(b - 1).draws, ebpDraws)) ++
          reps.map(b => truth.beta -> bigD.areas.map(a => Array(vBs(b - 1)(a)))),
        scale = 100.0)
      val mspe = bigD.areas.indices.map { a =>
        math.sqrt(reps.map(b => math.pow(scores(numB + b - 1)(a) - scores(b - 1)(a), 2)).sum / numB)
      }.toArray
      Em.areaFrame(big.sparkSession, areaCol, "mspe", bigD.areas, mspe)
    }
  }
}
