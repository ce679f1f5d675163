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

  test("hashGauss draws are standard-normal-shaped, deterministic, " +
    "and decorrelated across areas") {
    val n = 20000
    val df = spark.range(n).select(lit("A01").as("area"),
      col("id").cast("int").as("r"))
    val z = df.select(Em.hashGauss(col("area"), col("r"), 42L).as("z"))
    val row = z.agg(avg("z"), stddev_pop(col("z")),
      avg(col("z") * col("z") * col("z")), max(abs(col("z")))).head()
    assert(math.abs(row.getDouble(0)) < 0.02, s"mean ${row.getDouble(0)}")
    assert(math.abs(row.getDouble(1) - 1.0) < 0.02,
      s"sd ${row.getDouble(1)}")
    assert(math.abs(row.getDouble(2)) < 0.1, s"skew ${row.getDouble(2)}")
    assert(row.getDouble(3) < 6.0, "52-bit uniforms cannot reach 6 sigma")
    // deterministic: same (area, r, seed) -> identical value, different
    // seed or area -> different stream
    val a = z.limit(5).as[Double].collect().toSeq
    val b = df.select(Em.hashGauss(col("area"), col("r"), 42L).as("z"))
      .limit(5).as[Double].collect().toSeq
    assert(a == b)
    val other = df.select(Em.hashGauss(lit("A02"), col("r"), 42L).as("z"))
      .limit(5).as[Double].collect().toSeq
    assert(a != other)
    // cross-area correlation of the first n draws ~ 0 (independent
    // streams): sample corr of two md5 streams stays tiny
    val corr = spark.range(2000).select(
        Em.hashGauss(lit("A01"), col("id"), 42L).as("x"),
        Em.hashGauss(lit("A02"), col("id"), 42L).as("y"))
      .agg(org.apache.spark.sql.functions.corr("x", "y")).head().getDouble(0)
    assert(math.abs(corr) < 0.05, s"corr $corr")
  }

  test("ebpKeyedDraws: exact equality with the broadcast path at " +
    "tau=0; MC agreement at tau>0; partitioning-invariant") {
    val big = SurveyFixture.covariates(numAreas = 5, rowsPerArea = 40)
    val params = Em.Params(DenseVector(0.2, 0.5, -0.5), 1.0)
    val areas = (0 until 5).map(a => f"A$a%02d")
    // tau = 0: every draw equals vhat exactly in BOTH representations,
    // so the two paths are float-identical
    val vhats = areas.zipWithIndex.map { case (a, i) => a -> (i * 0.3 - 0.6) }
    val degenerate = vhats.map { case (a, v) => a -> Array.fill(7)(v) }.toMap
    val modes0 = vhats.map { case (a, v) => (a, v, 0.0) }
      .toDF("state", "vhat", "tau")
    val viaBroadcast = Em.ebp(big, params, SurveyFixture.featureCols,
      "state", "weight", degenerate, ebpDraws = 7)
      .orderBy("state").as[(String, Double)].collect()
    val viaKeyed = Em.ebpKeyedDraws(big, params, SurveyFixture.featureCols,
      "state", "weight", modes0, ebpDraws = 7)
      .orderBy("state").as[(String, Double)].collect()
    viaBroadcast.zip(viaKeyed).foreach { case ((a1, e), (a2, k)) =>
      assert(a1 == a2 && math.abs(e - k) < 1e-12, s"$a1: $e vs $k")
    }
    // tau > 0: different RNG streams, same estimator — agree within
    // MC error at R = 400 (EBP is a smooth functional of the draw
    // distribution; tolerance ~ few x tau/sqrt(R) on the percent scale)
    val modes1 = areas.map(a => (a, 0.2, 0.8)).toDF("state", "vhat", "tau")
    val drawsJava = Em.simulateDraws(
      areas.map(a => Em.AreaMode(a, 0.2, 0.8, 40L)), 400, 7L, 0)
    val ebpJava = Em.ebp(big, params, SurveyFixture.featureCols, "state",
      "weight", drawsJava, ebpDraws = 400)
      .orderBy("state").as[(String, Double)].collect()
    val ebpKeyed = Em.ebpKeyedDraws(big, params, SurveyFixture.featureCols,
      "state", "weight", modes1, ebpDraws = 400, seed = 7L)
      .orderBy("state").as[(String, Double)].collect()
    ebpJava.zip(ebpKeyed).foreach { case ((a1, e), (a2, k)) =>
      assert(a1 == a2 && math.abs(e - k) < 1.5, s"$a1: $e vs $k")
    }
    // keyed draws are partitioning-invariant (hash of values, not of
    // placement)
    val repart = Em.ebpKeyedDraws(big.repartition(13), params,
      SurveyFixture.featureCols, "state", "weight", modes1,
      ebpDraws = 400, seed = 7L)
      .orderBy("state").as[(String, Double)].collect()
    ebpKeyed.zip(repart).foreach { case ((a1, e), (a2, k)) =>
      assert(a1 == a2 && math.abs(e - k) < 1e-9)
    }
  }
}
