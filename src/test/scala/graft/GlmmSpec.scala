package graft

import breeze.linalg.DenseVector
import org.apache.spark.sql.functions._

import graft.stats.{Bootstrap, CellDesign, Glmm, Optimize}

class GlmmSpec extends SparkSpec {
  import spark.implicits._

  test("fitLogistic recovers known coefficients on simulated data") {
    // no area effects (vB = 0): plain logistic, recoverable to MC tol
    val cov = SurveyFixture.covariates(numAreas = 10, rowsPerArea = 400)
    val df = Bootstrap.simulateOutcome(cov, SurveyFixture.trueBeta,
      SurveyFixture.featureCols, "state", Map.empty, Seq("uid"), 3L, 0, "y")
    val beta = Glmm.fitLogistic(df, "y", SurveyFixture.featureCols)
    val err = breeze.linalg.max(breeze.numerics.abs(
      beta - SurveyFixture.trueBeta))
    assert(err < 0.15, s"beta=$beta err=$err")
  }

  test("fitLogistic agrees with Spark ML LogisticRegression") {
    // independent cross-check: the cell-design L-BFGS fit and
    // spark.ml (different optimizer, different code path) must land on
    // the same MLE to fine tolerance on the same data
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.feature.VectorAssembler
    val cov = SurveyFixture.covariates(numAreas = 8, rowsPerArea = 300)
    val df = Bootstrap.simulateOutcome(cov, SurveyFixture.trueBeta,
      SurveyFixture.featureCols, "state", Map.empty, Seq("uid"), 11L, 0, "y")
    val beta = Glmm.fitLogistic(df, "y", SurveyFixture.featureCols)
    val assembled = new VectorAssembler()
      .setInputCols(SurveyFixture.featureCols.toArray)
      .setOutputCol("features")
      .transform(df.withColumn("label", col("y").cast("double")))
    val ml = new LogisticRegression()
      .setMaxIter(200).setTol(1e-9).setRegParam(0.0)
      .fit(assembled)
    // graft's design prepends the intercept as beta(0)
    assert(math.abs(beta(0) - ml.intercept) < 1e-3,
      s"intercept graft=${beta(0)} ml=${ml.intercept}")
    val mlCoef = ml.coefficients.toArray
    for (i <- SurveyFixture.featureCols.indices) {
      assert(math.abs(beta(i + 1) - mlCoef(i)) < 1e-3,
        s"coef $i graft=${beta(i + 1)} ml=${mlCoef(i)}")
    }
  }

  test("fitLogistic cell compression is exact (compressed vs unit-level)") {
    // categorical design: 4 covariate cells regardless of row count —
    // the cell kernel sees 4 weighted cells, the oracle 2000 rows
    val cov = SurveyFixture.covariates(numAreas = 5, rowsPerArea = 400)
      .withColumn("x1", (col("x1") > 0).cast("double"))
    val df = Bootstrap.simulateOutcome(cov, SurveyFixture.trueBeta,
      SurveyFixture.featureCols, "state", Map.empty, Seq("uid"), 13L, 0, "y")
    val units = UnitOracle.rows(df, "y", SurveyFixture.featureCols, "state")
    def design(maxLocal: Int) = CellDesign.build(df, "y",
      SurveyFixture.featureCols, lit(""), maxLocal)
    val local = design(1 << 16)
    assert(local.isLocal && local.areas.length == 1)
    Seq(DenseVector(0.0, 0.0, 0.0), DenseVector(0.3, -0.8, 1.1)).foreach { b =>
      val (l, g) = Glmm.nll(local, b, 1e-3)
      val (wl, wg) = UnitOracle.nll(units, b, 1e-3)
      assert(UnitOracle.close(l, wl), s"loss $l vs $wl")
      g.toArray.zip(wg.toArray).foreach { case (x, y) =>
        assert(UnitOracle.close(x, y), s"grad $g vs $wg") }
    }
    // the fit over 4 cells lands on the unit-level optimum
    val compressed = Glmm.fitLogistic(df, "y", SurveyFixture.featureCols)
    val unitFit = Optimize.lbfgsMin(UnitOracle.nll(units, _, 1e-8),
      DenseVector.zeros[Double](3), 100)
    val d = breeze.linalg.max(breeze.numerics.abs(compressed - unitFit))
    assert(d < 1e-5, s"compressed=$compressed units=$unitFit")
    // forced onto distributed cells, the fit still agrees
    val dist = design(2)
    try {
      assert(!dist.isLocal)
      val distFit = Glmm.fitDesign(dist, 1e-8, 100)
      assert(breeze.linalg.max(breeze.numerics.abs(distFit - compressed)) < 1e-5)
    } finally dist.unpersist()
  }

  test("cell NLL gradient matches finite differences") {
    val df = SurveyFixture.smallSurvey(numAreas = 5, rowsPerArea = 40)
    val d = CellDesign.build(df, "y", SurveyFixture.featureCols, lit(""),
      CellDesign.MaxLocalCells)
    val beta = DenseVector(0.1, -0.2, 0.3)
    val (_, grad) = Glmm.nll(d, beta, 0.0)
    val eps = 1e-6
    for (i <- 0 until beta.length) {
      val bp = beta.copy; bp(i) += eps
      val bm = beta.copy; bm(i) -= eps
      val fd = (Glmm.nll(d, bp, 0.0)._1 - Glmm.nll(d, bm, 0.0)._1) / (2 * eps)
      assert(math.abs(fd - grad(i)) < 1e-6, s"coord $i: fd=$fd grad=${grad(i)}")
    }
  }

  test("scoreWithRanef applies u per area and coalesces missing to 0") {
    val df = Seq(("a", 0.0, 0.0), ("b", 0.0, 0.0)).toDF("state", "x1", "x2")
    val ranef = Seq(("a", 2.0)).toDF("state", "u")
    val beta = DenseVector(0.0, 1.0, 1.0)
    val p = Glmm.scoreWithRanef(df, beta, Seq("x1", "x2"), ranef, "state")
      .orderBy("state").select("p").as[Double].collect()
    assert(math.abs(p(0) - 1.0 / (1 + math.exp(-2.0))) < 1e-12)
    assert(math.abs(p(1) - 0.5) < 1e-12)
  }

  test("mrp equals the closed-form cell-weighted prediction mean") {
    // 2 areas x 2 covariate cells with known weights: the MRP estimate
    // must equal sum(n_cell * sigmoid(eta)) / sum(n_cell) * 100 done by
    // hand, with the missing area ("b") predicting at u = 0
    val big = Seq(
      ("a", 0.0, 0.0, 2.0), ("a", 0.0, 0.0, 1.0), ("a", 1.0, 0.0, 3.0),
      ("b", 0.0, 1.0, 4.0), ("b", 1.0, 1.0, 1.0))
      .toDF("state", "x1", "x2", "weight")
    val ranef = Seq(("a", 0.5)).toDF("state", "u")
    val beta = DenseVector(-0.2, 0.8, -0.4)
    def sig(e: Double) = 1.0 / (1.0 + math.exp(-e))
    val expA = (3.0 * sig(-0.2 + 0.5) + 3.0 * sig(-0.2 + 0.8 + 0.5)) / 6.0 * 100
    val expB = (4.0 * sig(-0.2 - 0.4) + 1.0 * sig(-0.2 + 0.8 - 0.4)) / 5.0 * 100
    val got = Glmm.mrp(big, beta, Seq("x1", "x2"), ranef, "state", "weight")
      .orderBy("state").select("mrp").as[Double].collect()
    assert(math.abs(got(0) - expA) < 1e-9, s"a: ${got(0)} vs $expA")
    assert(math.abs(got(1) - expB) < 1e-9, s"b: ${got(1)} vs $expB")
  }

  test("log1pExp and sigmoidD are stable at extremes") {
    assert(Glmm.log1pExp(800.0) == 800.0)
    assert(Glmm.log1pExp(-800.0) == 0.0)
    assert(Glmm.sigmoidD(800.0) == 1.0 && Glmm.sigmoidD(-800.0) == 0.0)
  }

  test("log1pExpSigmoid equals log1pExp and sigmoidD bit for bit") {
    val grid = Seq(0.0, -0.0, 1e-300, -1e-300, 1e-17, -1e-17, 0.5, -0.5,
      1.0, -1.0, 3.7, -3.7, 18.0, -18.0, 40.0, -40.0, 709.0, -709.0,
      745.2, -745.2, 800.0, -800.0, Double.MaxValue, -Double.MaxValue) ++
      (-2000 to 2000).map(_ * 0.0137)
    def bits(x: Double) = java.lang.Double.doubleToRawLongBits(x)
    grid.foreach { z =>
      val (l, p) = Glmm.log1pExpSigmoid(z)
      assert(bits(l) == bits(Glmm.log1pExp(z)), s"log1pExp($z): $l vs ${Glmm.log1pExp(z)}")
      assert(bits(p) == bits(Glmm.sigmoidD(z)), s"sigmoid($z): $p vs ${Glmm.sigmoidD(z)}")
    }
  }
}
