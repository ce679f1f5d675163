package graft

import breeze.linalg.DenseVector
import org.apache.spark.sql.functions._

import graft.stats.{Bootstrap, CellDesign, Em, Glmm}

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

  test("mspe rejects a draw count, EM iteration cap or concurrency below " +
      "one, naming the parameter") {
    val small = SurveyFixture.covariates(numAreas = 2, rowsPerArea = 10)
    val big = SurveyFixture.covariates(numAreas = 2, rowsPerArea = 10)
    def fails(numDraws: Int, emIters: Int, concurrency: Int, msg: String): Unit = {
      val e = intercept[IllegalArgumentException](
        Bootstrap.mspe(small, big, "y", SurveyFixture.featureCols, "state",
          "weight", Seq("uid"), SurveyFixture.truth, numB = 2, numDraws = numDraws,
          emIters = emIters, concurrency = concurrency))
      assert(e.getMessage.contains(msg), e.getMessage)
    }
    fails(0, 2, 2, "numDraws must be at least 1, got 0")
    fails(10, 0, 2, "emIters must be at least 1, got 0")
    fails(10, 2, 0, "concurrency must be at least 1, got 0")
  }

  test("mspe runs the same number of Spark jobs for any B") {
    val small = SurveyFixture.covariates(numAreas = 6, rowsPerArea = 40)
    val big = SurveyFixture.covariates(numAreas = 6, rowsPerArea = 60)
    def run(numB: Int): Unit =
      Bootstrap.mspe(small, big, "y", SurveyFixture.featureCols, "state",
        "weight", Seq("uid"), SurveyFixture.truth, numB = numB, seed = 5L,
        numDraws = 20, emIters = 1, ebpDraws = 10).collect()
    run(1) // warm
    val one = jobsOf(run(1))
    val four = jobsOf(run(4))
    assert(one > 0 && one == four, s"B = 1: $one jobs, B = 4: $four jobs")
  }

  /** A design's cells as (area, x, m, sumY), in its order. */
  private def cellsOf(d: CellDesign) =
    d.aggregate(Vector.empty[(Int, Seq[Double], Double, Double)])(
      (acc, c) => acc :+ ((c.area, c.x.toSeq, c.m, c.sumY)), _ ++ _)
      .map { case (a, x, m, y) => (d.areas(a), x, m, y) }

  test("the B replicate designs from one scan equal the per-replicate " +
      "designs exactly, on both sides") {
    // x1 rounded: several rows per cell, so sumY is a real count
    val small = SurveyFixture.covariates(numAreas = 5, rowsPerArea = 40)
      .withColumn("x1", round(col("x1") * 2))
    val areas = (0 until 5).map(a => f"A$a%02d")
    val feats = SurveyFixture.featureCols
    val vBs = (1 to 3).map(b => Bootstrap.drawAreaEffects(areas, 0.5, 9L, b))
    val sim = (1 to 3).foldLeft(small)((df, b) => Bootstrap.simulateOutcome(df,
      SurveyFixture.trueBeta, feats, "state", vBs(b - 1), Seq("uid"), 9L, b,
      s"y_sim_$b"))
    // a distributed aggregate merges partitions in any order: sort
    def sorted(d: CellDesign) = cellsOf(d).sortBy(c => (c._1, c._2.mkString(",")))
    Seq(CellDesign.MaxLocalCells, 0).foreach { maxLocal =>
      val all = CellDesign.buildAll(sim, (1 to 3).map(b => s"y_sim_$b"), feats,
        col("state"), None, maxLocal)
      try {
        assert(all.length == 3 && all.forall(_.isLocal == (maxLocal > 0)))
        (1 to 3).foreach { b =>
          val one = CellDesign.build(Bootstrap.simulateOutcome(small,
            SurveyFixture.trueBeta, feats, "state", vBs(b - 1), Seq("uid"), 9L, b),
            "y_sim", feats, col("state"), maxLocal)
          try {
            assert(all(b - 1).areas.toSeq == one.areas.toSeq)
            assert(all(b - 1).nByArea.toSeq == one.nByArea.toSeq)
            assert(sorted(all(b - 1)) == sorted(one), s"replicate $b")
          } finally one.unpersist()
        }
        // the designs differ in sumY only
        assert(sorted(all(0)).map(_._3) == sorted(all(1)).map(_._3))
        assert(sorted(all(0)).map(_._4) != sorted(all(1)).map(_._4))
      } finally all.head.unpersist()
    }
  }

  test("a design summed over areas is the one-area design, cell for cell") {
    val small = SurveyFixture.covariates(numAreas = 5, rowsPerArea = 40)
      .withColumn("x1", round(col("x1") * 2))
    val sim = Bootstrap.simulateOutcome(small, SurveyFixture.trueBeta,
      SurveyFixture.featureCols, "state",
      Bootstrap.drawAreaEffects((0 until 5).map(a => f"A$a%02d"), 0.5, 9L, 1),
      Seq("uid"), 9L, 1)
    val byArea = CellDesign.build(sim, "y_sim", SurveyFixture.featureCols,
      col("state"), CellDesign.MaxLocalCells)
    val pooled = byArea.pooled
    val oneArea = CellDesign.build(sim, "y_sim", SurveyFixture.featureCols,
      lit(""), CellDesign.MaxLocalCells)
    assert(pooled.areas.toSeq == Seq("") && pooled.nByArea.toSeq == oneArea.nByArea.toSeq)
    assert(cellsOf(pooled) == cellsOf(oneArea))
    val oneFit = Glmm.fitLogistic(sim, "y_sim", SurveyFixture.featureCols)
    assert(Glmm.fitDesign(pooled) == oneFit)
    // a distributed design relabels its cells: the same sums in
    // another order, so the fit agrees to optimizer tolerance
    val dist = CellDesign.build(sim, "y_sim", SurveyFixture.featureCols,
      col("state"), 0)
    try {
      val distPooled = dist.pooled
      assert(!distPooled.isLocal && distPooled.totalN == oneArea.totalN)
      val d = breeze.linalg.max(breeze.numerics.abs(Glmm.fitDesign(distPooled) - oneFit))
      assert(d < 1e-6, s"distributed pooled fit differs by $d")
    } finally dist.unpersist()
  }

  test("mspe matches the per-replicate row-level oracle for both init schemes") {
    val small = SurveyFixture.covariates(numAreas = 6, rowsPerArea = 40)
    // an area of the big survey the small one lacks: its EBP uses v = 0
    val big = SurveyFixture.covariates(numAreas = 7, rowsPerArea = 30)
      .withColumn("x1", round(col("x1") * 2))
    val feats = SurveyFixture.featureCols
    val (numB, seed, numDraws, emIters, ebpDraws) = (3, 13L, 40, 2, 20)
    val areas = big.select("state").distinct().as[String].collect().toSeq.sorted
    val sigma = math.sqrt(SurveyFixture.truth.sigmaSq)
    Seq("reference", "refit").foreach { scheme =>
      val perB = (1 to numB).map { b =>
        val vB = Bootstrap.drawAreaEffects(areas, sigma, seed, b)
        val sim = Bootstrap.simulateOutcome(small, SurveyFixture.truth.beta,
          feats, "state", vB, Seq("uid"), seed, b)
        val init =
          if (scheme == "refit") Em.Params(Glmm.fitLogistic(sim, "y_sim", feats),
            SurveyFixture.truth.sigmaSq)
          else Em.Params(DenseVector.fill(feats.length + 1)(0.1), 0.01)
        val fit = Em.fit(sim, "y_sim", feats, "state", init, numDraws = numDraws,
          maxIter = emIters, seed = seed + b)
        val est = UnitOracle.ebpRows(big, fit.params.beta, feats, "state",
          "weight", fit.draws, ebpDraws).toMap
        val tru = UnitOracle.ebpRows(big, SurveyFixture.truth.beta, feats,
          "state", "weight", vB.map { case (a, v) => a -> Array(v) }, 1).toMap
        areas.map(a => a -> math.pow(tru(a) - est(a), 2)).toMap
      }
      val want = areas.map(a => a -> math.sqrt(perB.map(_(a)).sum / numB))
      val got = Bootstrap.mspe(small, big, "y", feats, "state", "weight",
        Seq("uid"), SurveyFixture.truth, numB = numB, seed = seed,
        numDraws = numDraws, emIters = emIters, ebpDraws = ebpDraws,
        initScheme = scheme, concurrency = 2).as[(String, Double)].collect().toSeq
      assert(got.map(_._1) == want.map(_._1), scheme)
      got.zip(want).foreach { case ((a, g), (_, w)) =>
        assert(math.abs(g - w) < 1e-9, s"$scheme $a: $g vs $w") }
    }
  }
}
