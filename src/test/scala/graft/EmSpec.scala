package graft

import breeze.linalg.DenseVector
import org.apache.spark.sql.functions._

import graft.stats.{Bootstrap, CellDesign, Em, Glmm}

class EmSpec extends SparkSpec {
  import spark.implicits._

  lazy val survey = SurveyFixture.smallSurvey(numAreas = 20, rowsPerArea = 60)
    .cache()

  test("laplaceModes: concave mode within bounds, positive curvature") {
    val params = Em.Params(DenseVector(0.0, 0.5, -0.5), 1.0)
    val modes = Em.laplaceModes(survey, params, SurveyFixture.featureCols,
      "state", "y")
    assert(modes.size == 20)
    assert(modes.forall(m => m.vhat >= -3 && m.vhat <= 3))
    assert(modes.forall(m => m.tau > 0 && m.tau < 1.0)) // tau < sigma always
    assert(modes.forall(_.n == 60))
  }

  test("laplaceModes: all-ones group pushes mode positive") {
    val df = (1 to 50).map(i => ("g1", 0.0, 0.0, 1.0)) // y=1 throughout
      .toDF("state", "x1", "x2", "y")
    val params = Em.Params(DenseVector(0.0, 0.0, 0.0), 4.0)
    val m = Em.laplaceModes(df, params, Seq("x1", "x2"), "state", "y").head
    assert(m.vhat > 1.0, s"vhat=${m.vhat}")
  }

  test("laplaceModes is invariant to input partitioning (grouped aggs, " +
      "no per-area arrays)") {
    val params = Em.Params(DenseVector(0.0, 0.5, -0.5), 1.0)
    def run(df: org.apache.spark.sql.DataFrame) =
      Em.laplaceModes(df, params, SurveyFixture.featureCols, "state", "y")
    val a = run(survey.repartition(1))
    val b = run(survey.repartition(13))
    assert(a.map(_.area) == b.map(_.area))
    assert(a.map(_.n) == b.map(_.n))
    // partial-agg order shifts sums by ulps; the root-find re-converges
    // to the same mode within its tolerance regardless of partitioning
    a.zip(b).foreach { case (x, y) =>
      assert(math.abs(x.vhat - y.vhat) < 1e-6 &&
        math.abs(x.tau - y.tau) < 1e-6, s"$x vs $y")
    }
  }

  test("simulateDraws is deterministic and area-keyed") {
    val modes = Seq(Em.AreaMode("a", 0.5, 0.1, 10),
      Em.AreaMode("b", -0.5, 0.2, 10))
    val d1 = Em.simulateDraws(modes, 100, 42L, 0)
    val d2 = Em.simulateDraws(modes, 100, 42L, 0)
    assert(d1("a").toSeq == d2("a").toSeq)
    assert(d1("a").toSeq != d1("b").toSeq)
    // draws center near the mode
    assert(math.abs(d1("a").sum / 100 - 0.5) < 0.05)
  }

  test("updateSigmaSq matches the closed-form adjusted-likelihood maximizer") {
    val draws = Map("a" -> Array(1.0, -1.0), "b" -> Array(0.5, 0.5))
    val n = Map("a" -> 10L, "b" -> 20L)
    // S = mean_r(sum_i n_i v^2) = ((10*1+20*.25)+(10*1+20*.25))/2 = 15
    val s2 = Em.updateSigmaSq(draws, n, totalN = 30)
    assert(math.abs(s2 - 15.0 / 28.0) < 1e-12)
  }

  test("EM recovers simulation parameters within MC tolerance") {
    val init = Em.Params(DenseVector.zeros[Double](3), 1.0)
    val fit = Em.fit(survey, "y", SurveyFixture.featureCols, "state", init,
      numDraws = 200, maxIter = 8, seed = 5L)
    val err = breeze.linalg.max(breeze.numerics.abs(
      fit.params.beta - SurveyFixture.trueBeta))
    assert(err < 0.35, s"beta=${fit.params.beta} err=$err")
    val sig = math.sqrt(fit.params.sigmaSq)
    assert(sig > 0.1 && sig < 1.2, s"sigma=$sig")
  }

  test("EM converges at reference defaults (tol 0.01, 1000 draws) — golden") {
    // Method_code.Rmd:352-390 iterates to tol 0.01 with maxIter 1000 and
    // R = 1000 draws; the bench entries pin maxIter=3 for speed, so this
    // golden proves M4 parity end-to-end: actual convergence, recorded
    // iteration count, recovered parameters.
    val init = Em.Params(
      Glmm.fitLogistic(survey, "y", SurveyFixture.featureCols), 1.0)
    val fit = Em.fit(survey, "y", SurveyFixture.featureCols, "state", init,
      numDraws = 1000, tol = 0.01, maxIter = 30, seed = 17L)
    assert(fit.converged, s"not converged after ${fit.iters} iterations")
    assert(fit.iters >= 2 && fit.iters < 30, s"iters=${fit.iters}")
    val err = breeze.linalg.max(breeze.numerics.abs(
      fit.params.beta - SurveyFixture.trueBeta))
    assert(err < 0.35, s"beta=${fit.params.beta} err=$err")
    val sig = math.sqrt(fit.params.sigmaSq)
    assert(sig > 0.15 && sig < 1.0, s"sigma=$sig")
  }

  test("compressCells collapses a categorical design to exact cell stats, " +
      "invariant to partitioning") {
    val df = Seq(
      ("a", 0.0, 1.0, 1), ("a", 0.0, 1.0, 0), ("a", 0.0, 1.0, 1),
      ("a", 1.0, 0.0, 0), ("b", 0.0, 0.0, 1), ("b", 0.0, 0.0, 1)
    ).toDF("state", "x1", "x2", "y")
    def design(p: Int, maxLocal: Int) = CellDesign.build(df.repartition(p),
      "y", Seq("x1", "x2"), col("state"), maxLocal)
    def cells(p: Int) = {
      val d = design(p, maxLocal = 100)
      assert(d.isLocal)
      d.aggregate(Seq.empty[(String, Seq[Double], Double, Double)])(
        (acc, c) => acc :+ ((d.areas(c.area), c.x.toSeq, c.m, c.sumY)), _ ++ _)
    }
    val c1 = cells(1)
    val c13 = cells(13)
    assert(c1.length == 3)
    assert(Em.compressCells(df, "y", Seq("x1", "x2"), "state").count() == 3)
    // counts and 0/1 sums are exact integers — partitioning-exact, and
    // the driver table is sorted, so the order matches too
    assert(c1 == c13)
    assert(c1.contains(("a", Seq(1.0, 0.0, 1.0), 3.0, 2.0)))
    // the bound is honored: 3 cells > 2 stay distributed
    val dist = design(4, maxLocal = 2)
    try {
      assert(!dist.isLocal)
      assert(dist.areas.toSeq == Seq("a", "b") && dist.nByArea.toSeq == Seq(4L, 2L))
    } finally dist.unpersist()
  }

  test("local and distributed cell designs give the same EM fit") {
    val init = Em.Params(DenseVector.zeros[Double](3), 1.0)
    def run(maxLocal: Int) = {
      val d = CellDesign.build(survey, "y", SurveyFixture.featureCols,
        col("state"), maxLocal)
      try {
        assert(d.isLocal == (maxLocal > 0))
        Em.fitDesign(d, init, numDraws = 100, tol = 0.01, maxIter = 3,
          seed = 5L, vBound = 3.0)
      } finally d.unpersist()
    }
    val local = run(1 << 16)
    val dist = run(0)
    // identical math, different float-summation order: the optimizers
    // re-converge to the same point well within 1e-4
    val dB = breeze.linalg.max(breeze.numerics.abs(
      local.params.beta - dist.params.beta))
    assert(dB < 1e-4, s"beta ${local.params.beta} vs ${dist.params.beta}")
    assert(math.abs(local.params.sigmaSq - dist.params.sigmaSq) < 1e-4)
    assert(local.modes.map(_.area) == dist.modes.map(_.area))
    assert(local.modes.map(_.n) == dist.modes.map(_.n))
    local.modes.zip(dist.modes).foreach { case (x, y) =>
      assert(math.abs(x.vhat - y.vhat) < 1e-5, s"$x vs $y")
    }
    // the public fit is the driver-local design
    val viaFit = Em.fit(survey, "y", SurveyFixture.featureCols, "state", init,
      numDraws = 100, maxIter = 3, seed = 5L)
    assert(viaFit.params.beta == local.params.beta)
  }

  test("cell kernels match a unit-level oracle: Laplace g'(v) and " +
      "curvature, beta objective and gradient") {
    val units = UnitOracle.rows(survey, "y", SurveyFixture.featureCols, "state")
    val params = Em.Params(DenseVector(0.2, -0.4, 0.7), 0.6)
    Seq(1 << 16, 0).foreach { maxLocal =>
      val d = CellDesign.build(survey, "y", SurveyFixture.featureCols,
        col("state"), maxLocal)
      try {
        val v = d.areas.indices.map(a => 0.1 * a - 0.8).toArray
        val (g, info) = Em.laplaceGradInfo(d, params, v)
        val want = UnitOracle.laplace(units, params.beta, params.sigmaSq,
          d.areas.zip(v).toMap)
        d.areas.indices.foreach { a =>
          val (wg, wi) = want(d.areas(a))
          assert(UnitOracle.close(g(a), wg) && UnitOracle.close(info(a), wi),
            s"${d.areas(a)}: g ${g(a)} vs $wg, info ${info(a)} vs $wi")
        }
        val draws = d.areas.indices.map(a =>
          Array.tabulate(7)(r => 0.3 * r - 0.9 + 0.05 * a)).toArray
        val (loss, grad) = Em.betaObjective(d, draws, params.beta)
        val (wl, wgrad) = UnitOracle.betaObjective(units,
          d.areas.zip(draws).toMap, params.beta)
        assert(UnitOracle.close(loss, wl), s"loss $loss vs $wl")
        grad.toArray.zip(wgrad.toArray).foreach { case (x, y) =>
          assert(UnitOracle.close(x, y), s"grad $grad vs $wgrad") }
      } finally d.unpersist()
    }
  }

  test("a local fit is bit-identical on a ForkJoin pool of 1 or 4 workers") {
    val init = Em.Params(DenseVector.zeros[Double](3), 1.0)
    def fitOn(par: Int): Em.Fit = {
      val pool = new java.util.concurrent.ForkJoinPool(par)
      try pool.submit(new java.util.concurrent.Callable[Em.Fit] {
        def call(): Em.Fit = Em.fit(survey, "y", SurveyFixture.featureCols, "state",
          init, numDraws = 100, maxIter = 3, seed = 5L)
      }).get(300, java.util.concurrent.TimeUnit.SECONDS)
      finally pool.shutdown()
    }
    val one = fitOn(1)
    val four = fitOn(4)
    assert(one.params.beta == four.params.beta)
    assert(one.params.sigmaSq == four.params.sigmaSq)
    assert(one.modes == four.modes)
    assert(one.draws.keySet == four.draws.keySet &&
      one.draws.forall { case (a, vs) => vs.sameElements(four.draws(a)) })
  }

  test("fit rejects a draw or iteration count below one, naming the parameter") {
    val init = Em.Params(DenseVector.zeros[Double](3), 1.0)
    def fails(numDraws: Int, maxIter: Int, msg: String): Unit = {
      val e = intercept[IllegalArgumentException](Em.fit(survey, "y",
        SurveyFixture.featureCols, "state", init, numDraws = numDraws, maxIter = maxIter))
      assert(e.getMessage.contains(msg), e.getMessage)
    }
    fails(0, 3, "numDraws must be at least 1, got 0")
    fails(-5, 3, "numDraws must be at least 1, got -5")
    fails(10, 0, "maxIter must be at least 1, got 0")
  }

  test("fit rejects fewer than three rows with a clear message") {
    val init = Em.Params(DenseVector.zeros[Double](3), 1.0)
    def rows(n: Int) = (1 to n).map(i => ("a", i.toDouble, 0.0, i % 2))
      .toDF("state", "x1", "x2", "y")
    Seq(0, 1, 2).foreach { n =>
      val e = intercept[IllegalArgumentException](
        Em.fit(rows(n), "y", Seq("x1", "x2"), "state", init, numDraws = 10))
      assert(e.getMessage.contains(s"at least 3 rows, got $n"), e.getMessage)
    }
    // three rows are enough for a finite sigma^2
    val fit = Em.fit(rows(3), "y", Seq("x1", "x2"), "state", init,
      numDraws = 10, maxIter = 2)
    assert(fit.params.sigmaSq.isFinite && fit.params.sigmaSq > 0)
  }

  test("ebp with zero draws equals weighted mean of sigmoid(x'beta)") {
    val big = SurveyFixture.covariates(numAreas = 5, rowsPerArea = 30)
    val params = Em.Params(DenseVector(0.2, 0.5, -0.5), 1.0)
    val draws = (0 until 5).map(a => f"A$a%02d" -> Array(0.0, 0.0, 0.0)).toMap
    val viaEbp = Em.ebp(big, params, SurveyFixture.featureCols, "state",
      "weight", draws, ebpDraws = 3).orderBy("state").as[(String, Double)]
      .collect()
    val direct = big.withColumn("p",
        graft.etl.Encodings.sigmoid(
          Glmm.xBetaCol(params.beta, SurveyFixture.featureCols)))
      .groupBy("state")
      .agg((lit(100.0) * sum(col("p") * col("weight")) / sum("weight")).as("m"))
      .orderBy("state").as[(String, Double)].collect()
    viaEbp.zip(direct).foreach { case ((a1, e), (a2, d)) =>
      assert(a1 == a2 && math.abs(e - d) < 1e-9, s"$a1: ebp=$e direct=$d")
    }
  }

  test("ebp scores areas missing from draws with v=0 (MT/SD rule)") {
    val big = SurveyFixture.covariates(numAreas = 3, rowsPerArea = 10)
    val params = Em.Params(DenseVector(0.0, 1.0, 0.0), 1.0)
    val draws = Map("A00" -> Array(5.0)) // A01, A02 missing
    val r = Em.ebp(big, params, SurveyFixture.featureCols, "state", "weight",
      draws, 1).orderBy("state").as[(String, Double)].collect()
    assert(r.length == 3)
    assert(r(0)._2 > 90.0)              // v=5 pushes p toward 1
    assert(r(1)._2 > 20 && r(1)._2 < 80) // v=0 neutral
  }

  test("ebp with draws matches the row-level oracle and is bit-identical " +
      "for any partitioning") {
    // x1 rounded: several rows per cell, so each cell's weight total is
    // a real sum of unequal weights
    val big = SurveyFixture.covariates(numAreas = 6, rowsPerArea = 50)
      .withColumn("x1", round(col("x1")))
    val params = Em.Params(DenseVector(0.2, 0.5, -0.5), 1.0)
    val draws = (0 until 5).map(a =>
      f"A$a%02d" -> Array.tabulate(40)(r => 0.05 * r - 1.0 + 0.1 * a)).toMap // A05 has none
    def ebpOf(df: org.apache.spark.sql.DataFrame) =
      Em.ebp(df, params, SurveyFixture.featureCols, "state", "weight", draws,
        ebpDraws = 30)
    def run(df: org.apache.spark.sql.DataFrame) =
      ebpOf(df).as[(String, Double)].collect().toSeq
    assert(ebpOf(big).columns.toSeq == Seq("state", "ebp"))
    val viaCells = run(big)
    val want = UnitOracle.ebpRows(big, params.beta, SurveyFixture.featureCols,
      "state", "weight", draws, 30)
    assert(viaCells.map(_._1) == want.map(_._1))
    viaCells.zip(want).foreach { case ((a, e), (_, w)) =>
      assert(math.abs(e - w) < 1e-9, s"$a: cells $e vs rows $w") }
    val one = run(big.repartition(1))
    val seven = run(big.repartition(7))
    assert(one == seven && one == viaCells)
  }

  test("ebp rejects a null feature or weight in the big survey, naming the " +
      "column, and a non-positive draw count") {
    val big = SurveyFixture.covariates(numAreas = 3, rowsPerArea = 10)
    val params = Em.Params(DenseVector(0.0, 1.0, 0.0), 1.0)
    def ebpOf(df: org.apache.spark.sql.DataFrame) = Em.ebp(df, params,
      SurveyFixture.featureCols, "state", "weight", Map.empty, 1)
    val nullX = big.withColumn("x2",
      when(col("uid") === 100003L, lit(null).cast("double")).otherwise(col("x2")))
    val e1 = intercept[IllegalArgumentException](ebpOf(nullX))
    assert(e1.getMessage.contains("feature column 'x2'"), e1.getMessage)
    val nullW = big.withColumn("weight",
      when(col("uid") === 200007L, lit(null).cast("double")).otherwise(col("weight")))
    val e2 = intercept[IllegalArgumentException](ebpOf(nullW))
    assert(e2.getMessage.contains("'weight'"), e2.getMessage)
    // no draw to average over: rejected, not a NaN estimate
    val e3 = intercept[IllegalArgumentException](Em.ebp(big, params,
      SurveyFixture.featureCols, "state", "weight", Map("A00" -> Array(0.5)), 0))
    assert(e3.getMessage.contains("ebpDraws must be positive"), e3.getMessage)
  }

  test("a cell design rejects a null outcome, area or feature on either " +
      "side, naming the column") {
    val df = (1 to 12).map(i => (if (i % 2 == 0) "a" else "b", i % 3 * 1.0, 0.0, i % 2))
      .toDF("state", "x1", "x2", "y")
    def fails(bad: org.apache.spark.sql.DataFrame, name: String): Unit =
      Seq(CellDesign.MaxLocalCells, 0).foreach { maxLocal =>
        val before = spark.sparkContext.getPersistentRDDs.keySet
        val e = intercept[IllegalArgumentException](CellDesign.build(bad, "y",
          Seq("x1", "x2"), col("state"), maxLocal))
        assert(e.getMessage.contains(name), s"maxLocal $maxLocal: ${e.getMessage}")
        assert(spark.sparkContext.getPersistentRDDs.keySet == before)
      }
    def nullAt(c: String, t: String) = df.withColumn(c,
      when(col("x1") === 1.0 && col("y") === 1, lit(null).cast(t)).otherwise(col(c)))
    fails(nullAt("y", "int"), "column 'y'")
    fails(nullAt("state", "string"), "area column 'state'")
    fails(nullAt("x1", "double"), "feature column 'x1'")
    // the clean frame builds on both sides
    Seq(CellDesign.MaxLocalCells, 0).foreach { maxLocal =>
      val d = CellDesign.build(df, "y", Seq("x1", "x2"), col("state"), maxLocal)
      try assert(d.totalN == 12) finally d.unpersist()
    }
  }
}
