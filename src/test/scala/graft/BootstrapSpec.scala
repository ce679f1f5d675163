package graft

import org.apache.spark.sql.functions._

import graft.stats.Bootstrap

class BootstrapSpec extends SparkSpec {
  import spark.implicits._

  test("keyedUniform is deterministic and partitioning-invariant") {
    val df = (1L to 1000L).toDF("uid")
    val u1 = df.withColumn("u", Bootstrap.keyedUniform(Seq("uid"), 9L, 1))
      .orderBy("uid").select("u").as[Double].collect()
    val u2 = df.repartition(7).withColumn("u",
        Bootstrap.keyedUniform(Seq("uid"), 9L, 1))
      .orderBy("uid").select("u").as[Double].collect()
    assert(u1.toSeq == u2.toSeq)
    assert(u1.forall(u => u >= 0 && u < 1))
    val mean = u1.sum / u1.length
    assert(math.abs(mean - 0.5) < 0.05, s"mean=$mean")
    // different replicate id -> different stream
    val u3 = df.withColumn("u", Bootstrap.keyedUniform(Seq("uid"), 9L, 2))
      .orderBy("uid").select("u").as[Double].collect()
    assert(u1.toSeq != u3.toSeq)
  }

  test("simulateOutcome produces calibrated Bernoulli rates") {
    val cov = SurveyFixture.covariates(numAreas = 4, rowsPerArea = 500)
    val sim = Bootstrap.simulateOutcome(cov, SurveyFixture.trueBeta,
      SurveyFixture.featureCols, "state", Map.empty, Seq("uid"), 21L, 0)
    // empirical rate should track mean predicted probability
    val r = sim.agg(avg("y_sim"), avg(graft.etl.Encodings.sigmoid(
        graft.stats.Glmm.xBetaCol(SurveyFixture.trueBeta,
          SurveyFixture.featureCols)))).as[(Double, Double)].head()
    assert(math.abs(r._1 - r._2) < 0.03, s"empirical=${r._1} expected=${r._2}")
  }

  test("mspe runs end-to-end and yields positive finite values") {
    val small = SurveyFixture.covariates(numAreas = 8, rowsPerArea = 40)
    val big = SurveyFixture.covariates(numAreas = 8, rowsPerArea = 80)
    val m = Bootstrap.mspe(small, big, "y", SurveyFixture.featureCols,
      "state", "weight", Seq("uid"), SurveyFixture.truth, numB = 2,
      seed = 3L, numDraws = 50, emIters = 2, ebpDraws = 25)
      .orderBy("state").as[(String, Double)].collect()
    assert(m.length == 8)
    assert(m.forall { case (_, v) => v > 0 && v.isFinite && v < 50 })
  }

  test("mspe init schemes are distinct and the reference scheme is default") {
    // the two init schemes (reference constants / per-replicate refit)
    // must each actually steer the 1-iteration EM to different
    // replicate estimates — proves each path is exercised, and that the
    // default equals the reference scheme (Rmd:611-614: sigma=0.1,
    // beta=0.1, iterate; the per-replicate glmer at Rmd:602-607 is
    // print-only diagnostics, NOT the EM init)
    val small = SurveyFixture.covariates(numAreas = 6, rowsPerArea = 40)
    val big = SurveyFixture.covariates(numAreas = 6, rowsPerArea = 60)
    def run(scheme: Option[String]) =
      Bootstrap.mspe(small, big, "y", SurveyFixture.featureCols,
        "state", "weight", Seq("uid"), SurveyFixture.truth, numB = 1,
        seed = 13L, numDraws = 30, emIters = 1, ebpDraws = 10,
        initScheme = scheme.getOrElse("reference"))
        .orderBy("state").as[(String, Double)].collect().toSeq
    val default = run(None)
    val reference = run(Some("reference"))
    val refit = run(Some("refit"))
    // same scheme ~1e-9-close, different schemes far apart
    def maxDiff(a: Seq[(String, Double)], b: Seq[(String, Double)]) =
      a.zip(b).map { case ((_, x), (_, y)) => math.abs(x - y) }.max
    assert(maxDiff(default, reference) < 1e-9,
      "default init scheme must be 'reference'")
    assert(maxDiff(reference, refit) > 1e-6,
      "init schemes did not produce distinct estimates")
    Seq(reference, refit).foreach(r =>
      assert(r.forall { case (_, v) => v > 0 && v.isFinite }))
    // the former "truth" scheme is gone
    intercept[IllegalArgumentException](run(Some("truth")))
  }

  test("mspe releases the cached simulated survey when a replicate throws") {
    // two rows: the replicate's EM rejects its cell design after the
    // simulated survey has been cached and computed
    val small = SurveyFixture.covariates(numAreas = 1, rowsPerArea = 2)
    val big = SurveyFixture.covariates(numAreas = 1, rowsPerArea = 10)
    val sc = spark.sparkContext
    Seq("reference", "refit").foreach { scheme =>
      val before = sc.getPersistentRDDs.keySet
      val e = intercept[IllegalArgumentException](
        Bootstrap.mspe(small, big, "y", SurveyFixture.featureCols, "state",
          "weight", Seq("uid"), SurveyFixture.truth, numB = 1, seed = 3L,
          numDraws = 10, emIters = 1, ebpDraws = 5, initScheme = scheme))
      assert(e.getMessage.contains("at least 3 rows"), e.getMessage)
      val leaked = sc.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"$scheme left persisted RDDs $leaked")
    }
  }
}
