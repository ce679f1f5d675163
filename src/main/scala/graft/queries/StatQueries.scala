package graft.queries

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.etl.Encodings._
import graft.stats.{Agq, Bootstrap, Em, Glmm, Survey}

/** The reference's statistical pipeline (SURVEY.md §2.7 M1-M12) run as
  * first-class engine queries over a survey derived deterministically
  * from the TPC-H-ish tables: area = nation, outcome = order finality,
  * covariates = market segment / order priority, weights from custkey.
  *
  * Only m04 (design-based direct estimate) is ANSI-SQL-expressible and
  * oracle-checked; the EM/EBP/bootstrap entries get the driver's
  * rows-only check (per the Verify contract) and are value-tested by
  * the recovery/golden specs instead.
  */
object StatQueries {

  val featureCols = Seq("x1", "x2")

  /** Small survey (outcome + weights): one row per order. */
  def smallSurvey(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .join(Tables(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .select(
        col("n_name").as("state"),
        indicator(col("o_orderstatus"), "F").as("y"),
        indicator(col("c_mktsegment"), "BUILDING").cast("double").as("x1"),
        indicator(col("o_orderpriority"), "1-URGENT").cast("double").as("x2"),
        (lit(1.0) + pmod(col("o_custkey"), lit(3)).cast("double")).as("weight"),
        col("o_orderkey").as("uid"))

  /** Big survey (covariates + weights, no outcome): one row per customer. */
  def bigSurvey(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "customer")
      .join(broadcast(Tables(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .select(
        col("n_name").as("state"),
        indicator(col("c_mktsegment"), "BUILDING").cast("double").as("x1"),
        when(col("c_acctbal") > 0, 1.0).otherwise(0.0).as("x2"),
        (lit(1.0) + pmod(col("c_custkey"), lit(2)).cast("double")).as("weight"),
        col("c_custkey").as("uid"))

  // One EM fit / bootstrap per (session, sfDir) JVM-wide: m02/m03/m06
  // share the fit and m05/m06 the MSPE, the way the reference computes
  // the pipeline once and reports many views.
  private val emCache = TrieMap.empty[String, Em.Fit]
  private val emConvCache = TrieMap.empty[String, Em.Fit]
  private val mspeCache = TrieMap.empty[String, Seq[(String, Double)]]
  private val agqCache = TrieMap.empty[String, Agq.Fit]
  graft.Fixtures.onReset { () =>
    emCache.clear(); emConvCache.clear(); mspeCache.clear()
    agqCache.clear()
  }

  /** The glmer-equivalent fit (adaptive Gauss-Hermite marginal ML) —
    * the reference's model-fitting step itself (`Method_code.Rmd:
    * 68-81`), independent of the EM. Shared by m09 and the
    * reference-fidelity comparison.
    */
  def agqFit(s: SparkSession, dir: String): Agq.Fit =
    agqCache.getOrElseUpdate(dir, {
      val small = smallSurvey(s, dir).cache()
      val init = Em.Params(
        Glmm.fitLogistic(small, "y", featureCols), 0.25)
      val fit = Agq.fit(small, "y", featureCols, "state", init)
      small.unpersist(blocking = false)
      fit
    })

  /** The CONVERGED fit at the reference's stopping rule (tol 0.01 on
    * sigma and every beta coordinate, Method_code.Rmd:352-390) — unlike
    * `emFit`'s bench config (maxIter=3), this iterates until the
    * reference's criterion actually fires. Draws are 100 (reference
    * 1000) purely for bench tractability; the stopping semantics the
    * entry exists to demonstrate are identical, and the full 1000-draw
    * configuration is golden-tested in EmSpec.
    */
  def emFitConverged(s: SparkSession, dir: String): Em.Fit =
    emConvCache.getOrElseUpdate(dir, {
      val small = smallSurvey(s, dir).cache()
      val init = Em.Params(
        Glmm.fitLogistic(small, "y", featureCols), 0.25)
      val fit = Em.fit(small, "y", featureCols, "state", init,
        numDraws = 100, tol = 0.01, maxIter = 40, seed = 42L)
      small.unpersist(blocking = false)
      fit
    })

  def emFit(s: SparkSession, dir: String): Em.Fit =
    emCache.getOrElseUpdate(dir, {
      val small = smallSurvey(s, dir).cache()
      val init = Em.Params(
        Glmm.fitLogistic(small, "y", featureCols), 0.25)
      val fit = Em.fit(small, "y", featureCols, "state", init,
        numDraws = 50, maxIter = 3, seed = 42L)
      small.unpersist(blocking = false)
      fit
    })

  /** Memoized as driver-side rows (dimension-sized result), not a
    * cached DataFrame — query-boundary cache clearing must not force a
    * bootstrap re-run.
    */
  def bootstrapMspe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mspeCache.getOrElseUpdate(dir, {
      val fit = emFit(s, dir)
      // bench config: "refit" init (per-replicate logistic warm start)
      // so a 1-iteration EM cap suffices — the reference's scheme
      // (constants + iterate to tol 0.01) is the mspe() default and is
      // exercised in BootstrapSpec; here it would cost ~8 EM iterations
      // per replicate for the same rows-only check
      Bootstrap.mspe(smallSurvey(s, dir), bigSurvey(s, dir), "y",
        featureCols, "state", "weight", Seq("uid"), fit.params,
        numB = 2, seed = 7L, numDraws = 50, emIters = 1, ebpDraws = 25,
        initScheme = "refit", concurrency = 8)
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    }).toDF("state", "mspe")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // M1 — logistic fit (cell-design NLL + LBFGS)
    "m01_glm_fit" -> ((s, dir) => {
      import s.implicits._
      val beta = Glmm.fitLogistic(smallSurvey(s, dir), "y", featureCols)
      ("intercept" +: featureCols).zip(beta.toArray.toSeq)
        .toDF("term", "estimate")
        .select(col("term"), round(col("estimate"), 4).as("estimate"))
        .orderBy("term")
    }),

    // M3 — per-area Laplace modes and curvatures from the EM fit
    "m02_em_area_effects" -> ((s, dir) => {
      import s.implicits._
      emFit(s, dir).modes.toDF()
        .select(col("area").as("state"), round(col("vhat"), 4).as("vhat"),
          round(col("tau"), 4).as("tau"), col("n"))
        .orderBy("state")
    }),

    // M5 — EBP small-area estimates on the big survey, scored on the
    // driver from its weighted (area, x) cell table: one scan, no join
    // of the draws onto its rows (PlanSpec m03)
    "m03_ebp" -> ((s, dir) => {
      val fit = emFit(s, dir)
      Em.ebp(bigSurvey(s, dir), fit.params, featureCols, "state", "weight",
          fit.draws, ebpDraws = 100)
        .select(col("state"), round(col("ebp"), 4).as("ebp"))
        .orderBy("state")
    }),

    // M6/A3 — design-based direct estimate + SE (oracle-checked)
    "m04_direct_est" -> ((s, dir) =>
      Survey.weightedMeanSE(smallSurvey(s, dir), "state", "y", "weight",
          scale = 100.0)
        .select(col("state"), round(col("mean"), 6).as("mean"),
          round(col("se"), 6).as("se"))
        .orderBy("state")),

    // delete-one-group (JK1) jackknife for the overall weighted mean
    // — the survey-package replicate-variance companion to m04's
    // Taylor linearization. PSUs = states; each replicate removes one
    // state's (Σwy, Σw) from broadcast totals, so the whole estimator
    // is one dimension-sized groupBy + two tiny aggregates, never a
    // second data pass. w·y and w are small exact integers here, so
    // every sum is order-invariant and the oracle replay is exact.
    "m21_jackknife" -> ((s, dir) => {
      val per = smallSurvey(s, dir).groupBy("state")
        .agg(sum(col("y") * col("weight")).as("gwy"),
          sum("weight").as("gw"))
      val tot = per.agg(sum("gwy").as("twy"), sum("gw").as("tw"),
        count(lit(1)).cast("double").as("g"))
      val reps = per.crossJoin(broadcast(tot))
        .select(col("g"), (lit(100.0) * col("twy") / col("tw")).as("theta"),
          (lit(100.0) * (col("twy") - col("gwy"))
            / (col("tw") - col("gw"))).as("theta_g"))
      val rbar = reps.agg(avg("theta_g").as("rb")).head().getDouble(0)
      reps.groupBy("g", "theta")
        .agg(sum((col("theta_g") - lit(rbar))
          * (col("theta_g") - lit(rbar))).as("ssq"))
        .select(lit("overall").as("est"),
          round(col("theta"), 6).as("mean"),
          round(sqrt((col("g") - lit(1.0)) / col("g") * col("ssq")), 6)
            .as("se_jk"),
          col("g").cast("long").as("n_psu"))
    }),

    // MRP — multilevel regression + post-stratification (Gelman &
    // Little 1997), the modern small-area method joining this file's
    // two halves: the m09 adaptive-GH multilevel fit predicts every
    // population covariate cell, m14's post-stratification weights the
    // predictions by cell counts. One groupBy over the frame, then
    // dimension-sized arithmetic (see Glmm.mrp). Rows-only (the fit is
    // iterative ML); the aggregation layer is spec-gated in GlmmSpec
    // with a fixed-parameter closed-form check.
    "m24_mrp" -> ((s, dir) => {
      import s.implicits._
      val fit = agqFit(s, dir)
      val ranef = fit.ranef.map { case (a, u, _) => (a, u) }
        .toDF("state", "u")
      Glmm.mrp(bigSurvey(s, dir), fit.beta, featureCols, ranef,
          "state", "weight")
        .select(col("state"), round(col("mrp"), 4).as("mrp"))
        .orderBy("state")
    }),

    // GREG / calibration estimator (survey::calibrate, the linear
    // companion to m12's raking and m14's post-stratification): a
    // 1-in-3 customer sample (design weight 3) estimates mean acctbal
    // per segment, calibrated to the frame's KNOWN per-segment count
    // and auxiliary total via the weighted least-squares fit
    // y ~ 1 + x. GREG total = HT total + B'(t_pop − t̂_HT); the 2×2
    // normal equations are solved in closed form from five grouped
    // sums, so the whole estimator is two dimension-sized aggregates
    // (sample sums + frame totals) joined on segment — the data never
    // shuffles twice and nothing driver-side. Oracle replays the
    // explicit determinant inverse verbatim.
    "m22_greg_calibration" -> ((s, dir) => {
      val full = graft.Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("seg"),
          col("c_acctbal").cast("double").as("y"),
          pmod(col("c_custkey"), lit(10)).cast("double").as("x"))
      val pop = full.groupBy("seg")
        .agg(count(lit(1)).cast("double").as("bigN"), sum("x").as("tx"))
      val samp = full.filter(col("c_custkey") % 3 === 1)
        .groupBy("seg")
        .agg(count(lit(1)).as("n_samp"),
          sum(lit(3.0)).as("sw"), sum(lit(3.0) * col("x")).as("swx"),
          sum(lit(3.0) * col("x") * col("x")).as("swx2"),
          sum(lit(3.0) * col("y")).as("swy"),
          sum(lit(3.0) * col("x") * col("y")).as("swxy"))
      val d = samp.join(broadcast(pop), Seq("seg"))
        .withColumn("det",
          col("sw") * col("swx2") - col("swx") * col("swx"))
        .withColumn("b1",
          (col("sw") * col("swxy") - col("swx") * col("swy")) / col("det"))
        .withColumn("b0",
          (col("swy") * col("swx2") - col("swx") * col("swxy")) / col("det"))
      d.select(col("seg"), col("n_samp"),
          round(col("swy") / col("sw"), 6).as("ht_mean"),
          round((col("swy") + col("b0") * (col("bigN") - col("sw"))
            + col("b1") * (col("tx") - col("swx"))) / col("bigN"), 6)
            .as("greg_mean"),
          round(col("b1"), 6).as("b1"))
        .orderBy("seg")
    }),

    // Fay's BRR replicate variance (the balanced-half-sample
    // companion to m21's JK1): strata = the 5 segments, 2 PSU
    // half-samples per stratum by custkey parity, 8 balanced
    // replicates from the Sylvester H8 Hadamard matrix (columns 1-5 —
    // the all-ones column is skipped so every half-sample appears in
    // exactly half the replicates). Fay's rho = 0.5 perturbs weights
    // by 1.5/0.5 instead of 2/0, so no half-sample is ever emptied.
    // Everything is arithmetic on the 10 per-(stratum, psu) sums
    // crossed with a 40-row literal sign table — one data pass, then
    // dimension-sized joins. Oracle embeds the same Hadamard literal.
    "m23_brr_fay" -> ((s, dir) => {
      import s.implicits._
      val rho = 0.5
      // Sylvester H8 columns 1..5 (H[r][c] = (-1)^popcount(r AND c)),
      // indexed by replicate r = 0..7: zero-sum, pairwise orthogonal
      val hadCols = Seq(
        Seq(1, -1, 1, -1, 1, -1, 1, -1),
        Seq(1, 1, -1, -1, 1, 1, -1, -1),
        Seq(1, -1, -1, 1, 1, -1, -1, 1),
        Seq(1, 1, 1, 1, -1, -1, -1, -1),
        Seq(1, -1, 1, -1, -1, 1, -1, 1))
      val signs = (for { r <- 0 until 8; h <- 0 until 5 }
        yield (r + 1, h + 1, hadCols(h)(r))).toDF("rep", "h", "sign")
      val cells = smallSurvey(s, dir)
        .groupBy(col("state"))
        .agg(sum(col("y") * col("weight")).as("swy"),
          sum("weight").as("sw"))
      // per-stratum index via the dimension-sized rank (25 states ->
      // strata by alphabetical position mod 5, 2 halves by position
      // parity: a deterministic 5x2 design from the state dimension)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("state"))
      val keyed = cells
        .withColumn("pos", row_number().over(w) - 1)
        .withColumn("h", (col("pos") % 5 + 1).cast("int"))
        .withColumn("psu", expr("(pos div 5) % 2").cast("int"))
        .groupBy("h", "psu")
        .agg(sum("swy").as("swy"), sum("sw").as("sw"))
      val reps = keyed.join(broadcast(signs), Seq("h"))
        .withColumn("f",
          when((col("psu") === 0) === (col("sign") === 1), lit(2.0 - rho))
            .otherwise(lit(rho)))
        .groupBy("rep")
        .agg((sum(col("f") * col("swy")) / sum(col("f") * col("sw")) * 100.0)
          .as("theta_r"))
      val full0 = keyed.agg(
        (sum("swy") / sum("sw") * 100.0).as("theta"))
      reps.crossJoin(broadcast(full0))
        .groupBy("theta")
        .agg(count(lit(1)).cast("double").as("r"),
          sum((col("theta_r") - col("theta"))
            * (col("theta_r") - col("theta"))).as("ssq"))
        .select(lit("overall").as("est"),
          round(col("theta"), 6).as("mean"),
          round(sqrt(col("ssq") / (col("r")
            * (lit(1.0) - rho) * (lit(1.0) - rho))), 6).as("se_brr"),
          col("r").cast("long").as("n_reps"))
    }),

    // svyby covmat=TRUE (Method_code.Rmd:461): the full area×area
    // covariance of m04's direct estimates — diagonal = the Taylor
    // variance, off-diagonals exactly zero under the reference's
    // independent-across-areas design (disjoint samples ⇒ zero
    // covariance; see Survey.weightedMeanCov). #areas² rows,
    // dimension-sized at any data scale.
    "m20_direct_covmat" -> ((s, dir) =>
      Survey.weightedMeanCov(smallSurvey(s, dir), "state", "y", "weight",
          scale = 100.0)
        .select(col("area_a"), col("area_b"),
          round(col("cov"), 6).as("cov"))
        .orderBy("area_a", "area_b")),

    // Fay–Herriot area-level EB: m04's design-based direct estimates
    // (rounded first, so both engines' FH arithmetic starts from
    // identical doubles) shrunk toward the GLS intercept with the
    // moment-estimated model variance — the area-level classic of the
    // reference's small-area domain, next to the unit-level EM/EBP.
    // Oracle replays every expression verbatim.
    "m13_fay_herriot" -> ((s, dir) => {
      val direct = Survey.weightedMeanSE(smallSurvey(s, dir), "state",
          "y", "weight", scale = 100.0)
        .select(col("state"), round(col("mean"), 6).as("mean"),
          round(col("se"), 6).as("se"))
      Survey.fayHerriot(direct, "state", "mean", "se")
        .select(col("area").as("state"), round(col("direct"), 6).as("direct"),
          round(col("gamma"), 6).as("gamma"), round(col("fh"), 6).as("fh"),
          round(col("mse1"), 6).as("mse1"))
        .orderBy("state")
    }),

    // post-stratification (the single-margin classic next to m12's
    // raking): a deterministic 1-in-3 customer subsample reweighted to
    // the full table's segment counts; per-stratum mean ± fpc'd SE
    // plus the combined post-stratified estimate on the ALL row.
    // Oracle replays the explicit sum-of-squares variance verbatim.
    "m14_poststratify" -> ((s, dir) => {
      val full = graft.Tables(s, dir, "customer")
      val samp = full.filter(col("c_custkey") % 3 === 1)
        .select(col("c_mktsegment").as("seg"), col("c_acctbal"))
      val pop = full.groupBy(col("c_mktsegment").as("seg"))
        .agg(count(lit(1)).cast("double").as("pop_n"))
      Survey.poststratify(samp, "seg", "c_acctbal", pop)
        .select(col("seg"), col("pop_n"), col("samp_n"),
          round(col("mean"), 6).as("mean"), round(col("se"), 6).as("se"))
        .orderBy("seg")
    }),

    // Kish design effect + effective sample size per state — the
    // "what did the weighting cost" diagnostic attached to m04's
    // design-based estimates; scale cancels in the ratio. Oracle
    // replays both variances verbatim from one grouped pass.
    "m17_design_effect" -> ((s, dir) =>
      Survey.designEffect(smallSurvey(s, dir), "state", "y", "weight")
        .select(col("state"), col("n"), round(col("deff"), 6).as("deff"),
          round(col("n_eff"), 4).as("n_eff"))
        .orderBy("state")),

    // Gini concentration index of positive balances per segment — the
    // classic inequality measure of the survey-stats domain, computed
    // from Relational.scalableRank (no per-segment window sort):
    //   G = 2*sum(rank*y) / (n*sum(y)) - (n+1)/n
    // Tie blocks contribute y*sum(ranks) regardless of intra-tie
    // order, so the id tie-break cannot change the statistic. Oracle
    // replays the formula over row_number ordered by (bal, id).
    "m16_gini" -> ((s, dir) => {
      val base = graft.Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("seg"),
          round(col("c_acctbal"), 2).as("bal"))
        .filter(col("bal") > 0)
      graft.rel.Relational.scalableRank(base, "seg", "bal", "c_custkey")
        .groupBy("seg")
        .agg(count(lit(1)).as("n"), sum("bal").as("sy"),
          sum(col("rank") * col("bal")).as("sry"))
        .select(col("seg"), col("n"),
          round(lit(2.0) * col("sry") / (col("n") * col("sy"))
            - (col("n") + lit(1.0)) / col("n"), 6).as("gini"))
        .orderBy("seg")
    }),

    // design-based ratio estimator (price per weighted urgency unit,
    // y = totalprice/1000, x = 1 + urgent indicator): the survey
    // classic whose x = 1 case is m04's svymean; linearized variance
    // from one grouped pass, oracle replays every sum verbatim.
    "m19_ratio_estimator" -> ((s, dir) => {
      val withXY = graft.Tables(s, dir, "orders")
        .join(graft.Tables(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(graft.Tables(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("state"),
          (col("o_totalprice") / 1000.0).as("yy"),
          (lit(1.0) + when(col("o_orderpriority") === "1-URGENT", 1.0)
            .otherwise(0.0)).as("xx"),
          (lit(1.0) + pmod(col("o_custkey"), lit(3)).cast("double"))
            .as("weight"))
      Survey.ratioEstimator(withXY, "state", "yy", "xx", "weight")
        .select(col("state"), col("n"),
          round(col("ratio"), 6).as("ratio"), round(col("se"), 6).as("se"))
        .orderBy("state")
    }),

    // Lorenz decile shares per segment — the distributional detail
    // behind m16's single Gini number: which tenth of customers holds
    // which share of the balance mass. Deciles come from the same
    // sort-free distributed rank + ntile integer arithmetic (d35);
    // shares divide two per-segment sums of ROUNDED balances.
    "m18_decile_shares" -> ((s, dir) => {
      val base = graft.Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("seg"),
          round(col("c_acctbal"), 2).as("bal"))
        .filter(col("bal") > 0)
      val ranked = graft.rel.Relational
        .scalableRank(base, "seg", "bal", "c_custkey")
        .withColumn("q", expr("n_group div 10"))
        .withColumn("r", expr("n_group % 10"))
        .withColumn("big", (col("q") + 1) * col("r"))
        .withColumn("decile",
          when(col("rank") <= col("big"),
            expr("(rank - 1) div (q + 1) + 1"))
          .otherwise(expr("r + (rank - big - 1) div q + 1")).cast("int"))
      val tot = ranked.groupBy("seg").agg(sum("bal").as("tot"))
      ranked.groupBy("seg", "decile")
        .agg(count(lit(1)).as("n"), sum("bal").as("dsum"))
        .join(broadcast(tot), Seq("seg"))
        .select(col("seg"), col("decile"), col("n"),
          round(col("dsum") / col("tot"), 6).as("share"))
        .orderBy("seg", "decile")
    }),

    // Horvitz–Thompson totals under Poisson sampling with UNEQUAL
    // segment-dependent inclusion probabilities (the third
    // design-based estimator next to m04's svymean and m14's
    // post-stratification): inclusion decided by the content-keyed
    // md5 draw (deterministic, replayable), pi = (1 + ascii(seg) mod
    // 4)/10. Oracle replays draw, pi, and the sum-of-group-sums ALL
    // row verbatim.
    // survey weight trimming (the Potter/Kish practice the reference's
    // design-based pipeline would apply before estimation): weights
    // above 1.5x the segment mean are capped and the loss is restored
    // by a per-segment renormalization factor, preserving the weighted
    // total while bounding any single unit's influence. Engine-portable
    // by construction: weights are integer-valued doubles (exact sums
    // up to 2^53) and the cap is round(avg, 6) * 1.5, so both engines
    // compute bit-identical w and cap and evaluate the identical
    // w > cap comparison — the trim decision cannot diverge (boundary
    // hits, e.g. an even-integer mean giving cap = 30.0 = a weight,
    // resolve the same way on both sides).
    "m26_weight_trim" -> ((s, dir) => {
      val c = graft.Tables(s, dir, "customer")
        .select(col("c_mktsegment").as("seg"), col("c_acctbal"),
          (lit(1.0) + pmod(col("c_custkey") * 13, lit(40))
            .cast("double")).as("w"))
      val cap = c.groupBy("seg")
        .agg((round(avg("w"), 6) * 1.5).as("cap"))
      c.join(broadcast(cap), "seg")
        .withColumn("wt", least(col("w"), col("cap")))
        .groupBy("seg")
        .agg(count(lit(1)).as("n"),
          sum(when(col("w") > col("cap"), 1L).otherwise(0L))
            .as("n_trimmed"),
          round(sum("w"), 2).as("sum_w"),
          round(sum("w") / sum("wt"), 6).as("renorm"),
          round(sum(col("w") * col("c_acctbal")) / sum("w"), 4)
            .as("mean_raw"),
          round(sum(col("wt") * col("c_acctbal")) / sum("wt"), 4)
            .as("mean_trimmed"))
        .orderBy("seg")
    }),

    "m15_ht_total" -> ((s, dir) => {
      val full = graft.Tables(s, dir, "customer")
      val withPi = full.select(col("c_custkey"),
          col("c_mktsegment").as("seg"), col("c_acctbal"),
          ((lit(1) + pmod(ascii(col("c_mktsegment")), lit(4)))
            .cast("double") / 10.0).as("pi"))
        .filter(graft.ops.TextAnalysis.hashUniform(col("c_custkey"),
          "ht") < col("pi"))
      Survey.htTotal(withPi, "seg", "c_acctbal", "pi")
        .select(col("seg"), col("n_sampled"),
          round(col("est_total"), 4).as("est_total"),
          round(col("se"), 4).as("se"))
        .orderBy("seg")
    }),

    // Hájek mean under the SAME Poisson design as m15's HT total —
    // the ratio form Σ(y/π)/Σ(1/π) that survey practice prefers when
    // the population size is unknown (it self-normalizes the random
    // sample size that makes plain HT means noisy). The linearized
    // variance needs the residual (y-μ̂) inside the sum, but expanding
    // the square makes every term a plain weighted power sum, so the
    // WHOLE estimator (mean + SE, per segment + ALL) is ONE grouped
    // pass — no second residual scan at any scale. Oracle replays the
    // expansion verbatim.
    "m25_hajek_mean" -> ((s, dir) => {
      val full = graft.Tables(s, dir, "customer")
      val withPi = full.select(col("c_custkey"),
          col("c_mktsegment").as("seg"),
          col("c_acctbal").cast("double").as("y"),
          ((lit(1) + pmod(ascii(col("c_mktsegment")), lit(4)))
            .cast("double") / 10.0).as("pi"))
        .filter(graft.ops.TextAnalysis.hashUniform(col("c_custkey"),
          "ht") < col("pi"))
      val sums = withPi.groupBy("seg").agg(
        count(lit(1)).as("n_sampled"),
        sum(col("y") / col("pi")).as("sy"),
        sum(lit(1.0) / col("pi")).as("sn"),
        sum((lit(1.0) - col("pi")) * col("y") * col("y")
          / (col("pi") * col("pi"))).as("vyy"),
        sum((lit(1.0) - col("pi")) * col("y")
          / (col("pi") * col("pi"))).as("vy"),
        sum((lit(1.0) - col("pi"))
          / (col("pi") * col("pi"))).as("v1"))
      val all = sums.agg(lit("ALL").as("seg"),
        sum("n_sampled").as("n_sampled"), sum("sy").as("sy"),
        sum("sn").as("sn"), sum("vyy").as("vyy"), sum("vy").as("vy"),
        sum("v1").as("v1"))
      sums.unionByName(all)
        .withColumn("mu", col("sy") / col("sn"))
        .select(col("seg"), col("n_sampled"),
          round(col("mu"), 6).as("hajek_mean"),
          round(sqrt((col("vyy") - lit(2.0) * col("mu") * col("vy")
            + col("mu") * col("mu") * col("v1"))
            / (col("sn") * col("sn"))), 6).as("se"))
        .orderBy("seg")
    }),

    // survey raking / IPF (the survey::rake companion to m04's
    // svyby): a 1-in-3 customer subsample raked to the FULL table's
    // segment and nation margins, 3 cycles — the six passes run on the
    // driver over the 5 x 25 (segment, nation) cells of one groupBy,
    // and the factors join back once, broadcast; the data never
    // shuffles. Oracle replays all six passes unrolled, row by row.
    // Rake rejects a target category with no sample rows, so the
    // targets keep the categories the subsample has (all of them at
    // sf0.01; sf0.001's subsample lacks two nations).
    "m12_raking" -> ((s, dir) => {
      val full = graft.Tables(s, dir, "customer")
      val samp = full.filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey"), col("c_mktsegment").as("seg"),
          col("c_nationkey").as("nat"), lit(1.0).as("w"))
      def target(c: String, as: String) = full.groupBy(col(c).as(as))
        .agg(count(lit(1)).cast("double").as("_target"))
        .join(samp.select(as), Seq(as), "left_semi")
      Survey.rake(samp, "w", Seq("seg" -> target("c_mktsegment", "seg"),
          "nat" -> target("c_nationkey", "nat")), iters = 3)
        .groupBy("seg", "nat")
        .agg(round(sum("w"), 4).as("wsum"), count(lit(1)).as("n"))
        .orderBy("seg", "nat")
    }),

    // M7/M8 — parametric bootstrap MSPE (tiny B; full runs are offline).
    // Its Spark work is one scan per survey whatever B is; the B EM
    // refits run on the driver (`concurrency` threads)
    "m05_bootstrap_mspe" -> ((s, dir) =>
      bootstrapMspe(s, dir)
        .select(col("state"), round(col("mspe"), 4).as("mspe"))
        .orderBy("state")),

    // M4 — the converged EM at the reference's stopping rule (tol
    // 0.01), surfacing iteration count + convergence flag + final
    // parameters in the driver artifact (rows-only; exact values are
    // golden-tested in EmSpec)
    "m07_em_converged" -> ((s, dir) => {
      import s.implicits._
      val fit = emFitConverged(s, dir)
      val b = fit.params.beta.toArray
      val rows = ("beta_intercept", b(0)) +:
        featureCols.zipWithIndex.map { case (c, i) => (s"beta_$c", b(i + 1)) } :+
        ("sigma_sq", fit.params.sigmaSq) :+
        ("iters", fit.iters.toDouble) :+
        ("converged", if (fit.converged) 1.0 else 0.0)
      rows.toDF("metric", "value")
        .select(col("metric"), round(col("value"), 4).as("value"))
        .orderBy("metric")
    }),

    // M1 — the TRUE random-intercept ML fit (adaptive Gauss-Hermite),
    // the faithful glmer counterpart: (beta, sigma, logLik,
    // convergence) plus per-area BLUPs u_<state>, glmer's ranef().
    // Rows-only by nature (iterative quadrature ML); value-tested in
    // AgqSpec against a brute-force integration oracle + recovery.
    "m09_glmm_fit" -> ((s, dir) => {
      import s.implicits._
      val fit = agqFit(s, dir)
      val b = fit.beta.toArray
      val rows = (("beta_intercept", b(0)) +:
        featureCols.zipWithIndex.map { case (c, i) => (s"beta_$c", b(i + 1)) } :+
        ("sigma", fit.sigma) :+
        ("loglik", fit.logLik) :+
        ("outer_iters", fit.outerIters.toDouble) :+
        ("converged", if (fit.converged) 1.0 else 0.0)) ++
        fit.ranef.map { case (area, u, _) => (s"u_$area", u) }
      rows.toDF("metric", "value")
        .select(col("metric"), round(col("value"), 4).as("value"))
        .orderBy("metric")
    }),

    // M1/M4 — the reference's printed glmer-vs-EM comparison
    // (Method_code.Rmd:706-716): both fits' parameters side by side
    // per term, plus the per-area BLUP vs EM Laplace-mode deltas that
    // the paper's argument rests on (the EM tracks the ML fit).
    "m10_glmm_vs_em" -> ((s, dir) => {
      import s.implicits._
      val agq = agqFit(s, dir)
      val em = emFitConverged(s, dir)
      val ab = agq.beta.toArray
      val eb = em.params.beta.toArray
      val terms = ("intercept" +: featureCols).zipWithIndex.map {
        case (t, i) => (s"beta_$t", ab(i), eb(i)) } :+
        ("sigma", agq.sigma, math.sqrt(em.params.sigmaSq))
      val emModes = em.modes.map(m => m.area -> m.vhat).toMap
      val ranefRows = agq.ranef.map { case (a, u, _) =>
        (s"u_$a", u, emModes.getOrElse(a, 0.0)) }
      (terms ++ ranefRows).toDF("metric", "glmm_est", "em_est")
        .select(col("metric"), round(col("glmm_est"), 4).as("glmm_est"),
          round(col("em_est"), 4).as("em_est"))
        .orderBy("metric")
    }),

    // M4/M7/M8 at the REFERENCE configuration — the fidelity entry the
    // round artifact exercises end-to-end, not only in specs: the EM
    // runs the reference's 1000 draws (Method_code.Rmd:220) to its
    // tol-0.01 stopping rule (:352-390), and the bootstrap runs the
    // reference init/stopping scheme — constants init, iterate to tol
    // (:611-614,:729-733). B defaults to the reference's 10
    // (Method_code.Rmd:729-733) — affordable since the sufficient-
    // statistics cell compression (round 6: the B=2 gate existed for
    // the 476s pre-compression era; runtime recorded in BASELINE.md).
    // SPARK_GRAFT_FIDELITY_B still overrides for quick local runs; the
    // B simulated outcomes are columns of one scan of the small survey,
    // so only the driver-side refits grow with B.
    // Rows-only by nature; exact values golden-tested in
    // EmSpec/BootstrapSpec.
    "m11_reference_fidelity" -> ((s, dir) => {
      import s.implicits._
      val small = smallSurvey(s, dir).cache()
      val init = Em.Params(Glmm.fitLogistic(small, "y", featureCols), 0.25)
      val fit = Em.fit(small, "y", featureCols, "state", init,
        numDraws = 1000, tol = 0.01, maxIter = 40, seed = 42L)
      val numB = sys.env.getOrElse("SPARK_GRAFT_FIDELITY_B", "10").toInt
      val mspe = Bootstrap.mspe(small, bigSurvey(s, dir), "y", featureCols,
          "state", "weight", Seq("uid"), fit.params, numB = numB,
          seed = 7L, numDraws = 200, emIters = 10, ebpDraws = 100,
          initScheme = "reference", concurrency = 8)
        .select("mspe").as[Double].collect()
      small.unpersist(blocking = false)
      val b = fit.params.beta.toArray
      val rows = (("em_beta_intercept", b(0)) +:
        featureCols.zipWithIndex.map { case (c, i) =>
          (s"em_beta_$c", b(i + 1)) } :+
        ("em_sigma_sq", fit.params.sigmaSq) :+
        ("em_iters", fit.iters.toDouble) :+
        ("em_converged", if (fit.converged) 1.0 else 0.0) :+
        ("em_draws", 1000.0) :+
        ("boot_B", numB.toDouble) :+
        ("mspe_mean", mspe.sum / mspe.length) :+
        ("mspe_max", mspe.max))
      rows.toDF("metric", "value")
        .select(col("metric"), round(col("value"), 4).as("value"))
        .orderBy("metric")
    }),

    // S4 — the choropleth stage (Method_code.Rmd:513-550): per-area
    // estimates binned onto a color ramp. The shade table is the
    // oracle-gated result; the query also renders the REAL tile-grid
    // BMP through BmpCodec (written to an exit-cleaned temp dir) so
    // the image sink itself is exercised on every run.
    "m08_choropleth" -> ((s, dir) => {
      import graft.ops.Choropleth
      // cached: the layout-keys collect, the BMP render's collect, and
      // the shaded result (which also self-joins est against its own
      // min/max) would otherwise re-run the survey aggregation ~4x
      val est = graft.rel.Relational.weightedMean(smallSurvey(s, dir),
        Seq("state"), col("y"), col("weight"), scale = 100.0, as = "est")
        .cache()
      val keys = est.select("state").collect().map(_.getString(0)).toSeq
      val bmp = Choropleth.render(est, "state", "est",
        Choropleth.gridLayout(keys))
      val outDir = graft.TempDirs.createCleanedAtExit("graft-m08-map")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, "map.bmp"), bmp)
      // true-geometry companion (Method_code.Rmd:513-550 plot_usmap
      // fidelity): the 25 nations have no US geography, so they map
      // deterministically (alphabetical zip) onto state codes — the
      // polygon rasterizer runs against the same per-round values
      val toUs: Map[String, String] = keys.sorted.zip(
        graft.ops.UsGeo.allStates.toSeq.sorted).toMap
      val usKeyed = est.na.replace("state", toUs)
      val poly = Choropleth.renderUs(usKeyed, "state", "est")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, "map_poly.bmp"), poly)
      // the reference's SECOND map + the paired figure
      // (Method_code.Rmd:525-543): EBP estimates rendered next to the
      // direct estimates, both on ONE fixed percent scale (the
      // `limits = c(0, 96)` analog — per-map min/max would shade equal
      // values differently across the pair)
      val fit = emFit(s, dir)
      val ebpEst = Em.ebp(bigSurvey(s, dir), fit.params, featureCols,
          "state", "weight", fit.draws, ebpDraws = 50)
        .na.replace("state", toUs)
      val lims = Some((0.0, 100.0))
      val polyDirect = Choropleth.renderUs(usKeyed, "state", "est",
        limits = lims)
      val polyEbp = Choropleth.renderUs(ebpEst, "state", "ebp",
        limits = lims)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, "map_poly_ebp.bmp"), polyEbp)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, "figure.bmp"),
        Choropleth.sideBySide(polyDirect, polyEbp))
      Choropleth.shaded(est, "state", "est", bins = 9)
        .select(col("state"), round(col("est"), 6).as("est"), col("shade"))
        .orderBy("state")
    }),

    // J2 — the reference's final report SQL (Method_code.Rmd:763-772):
    // base estimates LEFT JOIN MSPE LEFT JOIN direct SE, rounded.
    "m06_final_report" -> ((s, dir) => {
      val fit = emFit(s, dir)
      Em.ebp(bigSurvey(s, dir), fit.params, featureCols, "state", "weight",
          fit.draws, ebpDraws = 100)
        .createOrReplaceTempView("em_est")
      Survey.weightedMeanSE(smallSurvey(s, dir), "state", "y", "weight",
          scale = 100.0)
        .createOrReplaceTempView("direct_est")
      bootstrapMspe(s, dir).createOrReplaceTempView("final_mspe")
      s.sql("""
        SELECT a.state,
               ROUND(a.ebp, 2)    AS em_est,
               ROUND(b.mspe, 2)   AS mspe,
               ROUND(c.mean, 2)   AS direct,
               ROUND(c.se, 2)     AS direct_se
        FROM em_est a
        LEFT JOIN final_mspe b ON a.state = b.state
        LEFT JOIN direct_est c ON a.state = c.state
        ORDER BY a.state
      """)
    })
  )

  val oracles: Map[String, String] = Map(
    // same explicit sum-of-squares variance + fpc arithmetic; ALL row
    // via UNION ALL of the combined post-stratified estimate
    "m14_poststratify" -> """
      WITH samp AS (
        SELECT c_mktsegment AS seg, CAST(c_acctbal AS DOUBLE) AS y
        FROM customer WHERE c_custkey % 3 = 1),
      pop AS (
        SELECT c_mktsegment AS seg, CAST(COUNT(*) AS DOUBLE) AS pop_n
        FROM customer GROUP BY 1),
      st AS (
        SELECT seg, CAST(COUNT(*) AS DOUBLE) AS n_h,
               SUM(y) AS sy, SUM(y * y) AS syy
        FROM samp GROUP BY 1),
      parts AS (
        SELECT st.seg, pop.pop_n, st.n_h,
               st.sy / st.n_h AS ybar,
               (st.syy - st.sy * st.sy / st.n_h) / (st.n_h - 1.0) AS s2,
               1.0 - st.n_h / pop.pop_n AS fpc
        FROM st JOIN pop USING (seg)),
      tot AS (SELECT SUM(pop_n) AS bigN FROM parts)
      SELECT seg, CAST(pop_n AS BIGINT) AS pop_n,
             CAST(n_h AS BIGINT) AS samp_n,
             ROUND(ybar, 6) AS mean,
             ROUND(SQRT(fpc * s2 / n_h), 6) AS se
      FROM parts
      UNION ALL
      SELECT 'ALL',
             CAST(SUM(pop_n) AS BIGINT),
             CAST(SUM(n_h) AS BIGINT),
             ROUND(SUM(pop_n * ybar) / MAX(bigN), 6),
             ROUND(SQRT(SUM((pop_n / bigN) * (pop_n / bigN)
                            * fpc * s2 / n_h)), 6)
      FROM parts CROSS JOIN tot
      ORDER BY seg""",

    // one grouped pass; both variances as explicit sums, scale-free
    "m17_design_effect" -> """
      WITH small AS (
        SELECT n_name AS state,
               CAST(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END
                    AS DOUBLE) AS y,
               1.0 + (o_custkey % 3) AS w
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey),
      sums AS (
        SELECT state, SUM(y * w) AS swy, SUM(w) AS sw,
               SUM(w * w * y * y) AS swwyy, SUM(w * w * y) AS swwy,
               SUM(w * w) AS sww, CAST(COUNT(*) AS DOUBLE) AS n,
               SUM(y) AS sy, SUM(y * y) AS syy
        FROM small GROUP BY state),
      d AS (
        SELECT state, n,
               (n / (n - 1.0))
                 * (swwyy - 2.0 * (swy / sw) * swwy
                    + (swy / sw) * (swy / sw) * sww) / (sw * sw)
                 AS vdesign,
               (syy - sy * sy / n) / (n - 1.0) AS s2
        FROM sums)
      SELECT state, CAST(n AS BIGINT) AS n,
             ROUND(vdesign / (s2 / n), 6) AS deff,
             ROUND(n / (vdesign / (s2 / n)), 4) AS n_eff
      FROM d ORDER BY state""",

    // same formula over row_number ordered by (bal, id); tie blocks
    // make the intra-tie order irrelevant
    "m16_gini" -> """
      WITH base AS (
        SELECT c_custkey, c_mktsegment AS seg,
               ROUND(c_acctbal, 2) AS bal
        FROM customer WHERE ROUND(c_acctbal, 2) > 0),
      r AS (
        SELECT seg, bal,
               ROW_NUMBER() OVER (PARTITION BY seg
                 ORDER BY bal, c_custkey) AS rank
        FROM base)
      SELECT seg, COUNT(*) AS n,
             ROUND(2.0 * SUM(rank * bal) / (COUNT(*) * SUM(bal))
               - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini
      FROM r GROUP BY seg ORDER BY seg""",

    // every sum replayed verbatim; same expansion of the linearized
    // variance, r computed once
    "m19_ratio_estimator" -> """
      WITH small AS (
        SELECT n_name AS state,
               o_totalprice / 1000.0 AS y,
               1.0 + CASE WHEN o_orderpriority = '1-URGENT'
                          THEN 1.0 ELSE 0.0 END AS x,
               1.0 + (o_custkey % 3) AS w
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey),
      sums AS (
        SELECT state, SUM(y * w) AS swy, SUM(x * w) AS swx,
               SUM(w * w * y * y) AS swwyy, SUM(w * w * x * y) AS swwxy,
               SUM(w * w * x * x) AS swwxx, COUNT(*) AS n
        FROM small GROUP BY state),
      d AS (SELECT state, n, swy / swx AS r, swx, swwyy, swwxy, swwxx
            FROM sums)
      SELECT state, n, ROUND(r, 6) AS ratio,
             ROUND(SQRT((n / (n - 1.0))
               * (swwyy - 2.0 * r * swwxy + r * r * swwxx)
               / (swx * swx)), 6) AS se
      FROM d ORDER BY state""",

    // native ntile(10) over (bal, id) must equal the engine's integer
    // decile arithmetic; shares from the same two sums
    "m18_decile_shares" -> """
      WITH base AS (
        SELECT c_custkey, c_mktsegment AS seg,
               ROUND(c_acctbal, 2) AS bal
        FROM customer WHERE ROUND(c_acctbal, 2) > 0),
      r AS (
        SELECT seg, bal,
               CAST(ntile(10) OVER (PARTITION BY seg
                 ORDER BY bal, c_custkey) AS INT) AS decile
        FROM base),
      t AS (SELECT seg, SUM(bal) AS tot FROM r GROUP BY 1)
      SELECT r.seg, r.decile, COUNT(*) AS n,
             ROUND(SUM(r.bal) / MAX(t.tot), 6) AS share
      FROM r JOIN t ON r.seg = t.seg
      GROUP BY r.seg, r.decile ORDER BY r.seg, r.decile""",

    // same md5 Poisson draw as m15; the expanded linearized variance
    // (vyy - 2 mu vy + mu^2 v1) / sn^2, ALL row = sums of group sums
    "m25_hajek_mean" -> """
      WITH samp AS (
        SELECT c_mktsegment AS seg, CAST(c_acctbal AS DOUBLE) AS y,
               CAST(1 + unicode(c_mktsegment) % 4 AS DOUBLE) / 10.0 AS pi
        FROM customer
        WHERE CAST(list_sum(list_transform(range(1, 9), i ->
                (strpos('0123456789abcdef',
                   substr(md5(CAST(c_custkey AS VARCHAR) || 'ht'),
                     CAST(i AS INT), 1)) - 1)
                * power(16, 8 - i))) AS DOUBLE) / 4294967296.0
              < CAST(1 + unicode(c_mktsegment) % 4 AS DOUBLE) / 10.0),
      per AS (
        SELECT seg, COUNT(*) AS n_sampled,
               SUM(y / pi) AS sy, SUM(1.0 / pi) AS sn,
               SUM((1.0 - pi) * y * y / (pi * pi)) AS vyy,
               SUM((1.0 - pi) * y / (pi * pi)) AS vy,
               SUM((1.0 - pi) / (pi * pi)) AS v1
        FROM samp GROUP BY 1),
      u AS (
        SELECT seg, n_sampled, sy, sn, vyy, vy, v1 FROM per
        UNION ALL
        SELECT 'ALL', CAST(SUM(n_sampled) AS BIGINT), SUM(sy), SUM(sn),
               SUM(vyy), SUM(vy), SUM(v1)
        FROM per)
      SELECT seg, n_sampled, ROUND(sy / sn, 6) AS hajek_mean,
             ROUND(SQRT((vyy - 2.0 * (sy / sn) * vy
               + (sy / sn) * (sy / sn) * v1) / (sn * sn)), 6) AS se
      FROM u ORDER BY seg""",

    // md5-draw inclusion + HT arithmetic replayed; the ALL row sums
    // the per-group sums (same float association as the engine)
    "m26_weight_trim" -> """
      WITH c AS (
        SELECT c_mktsegment AS seg, c_acctbal,
               1.0 + CAST((c_custkey * 13) % 40 AS DOUBLE) AS w
        FROM customer),
      cap AS (SELECT seg, ROUND(AVG(w), 6) * 1.5 AS cap
              FROM c GROUP BY 1),
      t AS (SELECT c.seg, c_acctbal, w, LEAST(w, cap) AS wt, cap
            FROM c JOIN cap USING (seg))
      SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN w > cap THEN 1 ELSE 0 END) AS BIGINT)
               AS n_trimmed,
             ROUND(SUM(w), 2) AS sum_w,
             ROUND(SUM(w) / SUM(wt), 6) AS renorm,
             ROUND(SUM(w * c_acctbal) / SUM(w), 4) AS mean_raw,
             ROUND(SUM(wt * c_acctbal) / SUM(wt), 4) AS mean_trimmed
      FROM t GROUP BY 1 ORDER BY 1""",

    "m15_ht_total" -> """
      WITH samp AS (
        SELECT c_mktsegment AS seg, CAST(c_acctbal AS DOUBLE) AS y,
               CAST(1 + unicode(c_mktsegment) % 4 AS DOUBLE) / 10.0 AS pi
        FROM customer
        WHERE CAST(list_sum(list_transform(range(1, 9), i ->
                (strpos('0123456789abcdef',
                   substr(md5(CAST(c_custkey AS VARCHAR) || 'ht'),
                     CAST(i AS INT), 1)) - 1)
                * power(16, 8 - i))) AS DOUBLE) / 4294967296.0
              < CAST(1 + unicode(c_mktsegment) % 4 AS DOUBLE) / 10.0),
      per AS (
        SELECT seg, COUNT(*) AS n_sampled,
               SUM(y / pi) AS est_total,
               SUM((1.0 - pi) * (y / pi) * (y / pi)) AS v
        FROM samp GROUP BY 1)
      SELECT seg, n_sampled, ROUND(est_total, 4) AS est_total,
             ROUND(SQRT(v), 4) AS se
      FROM per
      UNION ALL
      SELECT 'ALL', CAST(SUM(n_sampled) AS BIGINT), ROUND(SUM(est_total), 4),
             ROUND(SQRT(SUM(v)), 4)
      FROM per
      ORDER BY seg""",

    // all six IPF scaling passes unrolled (seg/nat per cycle x 3):
    // identical arithmetic, margins from the full table
    "m12_raking" -> """
      WITH samp AS (
        SELECT c_custkey, c_mktsegment AS seg, c_nationkey AS nat,
               1.0 AS w
        FROM customer WHERE c_custkey % 3 = 0),
      st AS (SELECT c_mktsegment AS seg, CAST(COUNT(*) AS DOUBLE) AS t
             FROM customer GROUP BY 1),
      nt AS (SELECT c_nationkey AS nat, CAST(COUNT(*) AS DOUBLE) AS t
             FROM customer GROUP BY 1),
      w1 AS (SELECT s.c_custkey, s.seg, s.nat, s.w * st.t / m.ms AS w
             FROM samp s
             JOIN (SELECT seg, SUM(w) AS ms FROM samp GROUP BY 1) m
               USING (seg)
             JOIN st USING (seg)),
      w2 AS (SELECT s.c_custkey, s.seg, s.nat, s.w * nt.t / m.ms AS w
             FROM w1 s
             JOIN (SELECT nat, SUM(w) AS ms FROM w1 GROUP BY 1) m
               USING (nat)
             JOIN nt USING (nat)),
      w3 AS (SELECT s.c_custkey, s.seg, s.nat, s.w * st.t / m.ms AS w
             FROM w2 s
             JOIN (SELECT seg, SUM(w) AS ms FROM w2 GROUP BY 1) m
               USING (seg)
             JOIN st USING (seg)),
      w4 AS (SELECT s.c_custkey, s.seg, s.nat, s.w * nt.t / m.ms AS w
             FROM w3 s
             JOIN (SELECT nat, SUM(w) AS ms FROM w3 GROUP BY 1) m
               USING (nat)
             JOIN nt USING (nat)),
      w5 AS (SELECT s.c_custkey, s.seg, s.nat, s.w * st.t / m.ms AS w
             FROM w4 s
             JOIN (SELECT seg, SUM(w) AS ms FROM w4 GROUP BY 1) m
               USING (seg)
             JOIN st USING (seg)),
      w6 AS (SELECT s.c_custkey, s.seg, s.nat, s.w * nt.t / m.ms AS w
             FROM w5 s
             JOIN (SELECT nat, SUM(w) AS ms FROM w5 GROUP BY 1) m
               USING (nat)
             JOIN nt USING (nat))
      SELECT seg, nat, ROUND(SUM(w), 4) AS wsum, COUNT(*) AS n
      FROM w6 GROUP BY 1, 2 ORDER BY 1, 2""",

    // floor-binned shades over the min/max extent: floor (not round)
    // because floor's semantics agree across engines
    "m08_choropleth" -> """
      WITH small AS (
        SELECT n_name AS state,
               CAST(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END
                    AS DOUBLE) AS y,
               1.0 + (o_custkey % 3) AS w
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey),
      est AS (
        SELECT state, 100 * SUM(y * w) / SUM(w) AS est
        FROM small GROUP BY state),
      mm AS (SELECT MIN(est) AS vmin, MAX(est) AS vmax FROM est)
      SELECT state, ROUND(est, 6) AS est,
             CASE WHEN vmax = vmin THEN 0
                  ELSE LEAST(8, CAST(FLOOR((est - vmin) / (vmax - vmin) * 9)
                                     AS INT)) END AS shade
      FROM est CROSS JOIN mm ORDER BY state""",

    "m04_direct_est" -> """
      WITH small AS (
        SELECT n_name AS state,
               CAST(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END
                    AS DOUBLE) AS y,
               1.0 + (o_custkey % 3) AS w
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey)
      SELECT state, ROUND(100 * swy / sw, 6) AS mean,
             ROUND(100 * SQRT((n / (n - 1.0))
               * (swwyy - 2 * (swy / sw) * swwy
                  + (swy / sw) * (swy / sw) * sww) / (sw * sw)), 6) AS se
      FROM (SELECT state, SUM(y * w) AS swy, SUM(w) AS sw,
                   SUM(w * w * y * y) AS swwyy, SUM(w * w * y) AS swwy,
                   SUM(w * w) AS sww, COUNT(*) AS n
            FROM small GROUP BY state)
      ORDER BY state""",

    // the same delete-one-state replicate arithmetic: exact integer
    // sums, then JK1 (G-1)/G scaling around the replicate mean
    "m21_jackknife" -> """
      WITH small AS (
        SELECT n_name AS state,
               CAST(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END
                    AS DOUBLE) AS y,
               1.0 + (o_custkey % 3) AS w
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey),
      per AS (SELECT state, SUM(y * w) AS gwy, SUM(w) AS gw
              FROM small GROUP BY state),
      tot AS (SELECT SUM(gwy) AS twy, SUM(gw) AS tw,
                     CAST(COUNT(*) AS DOUBLE) AS g
              FROM per),
      reps AS (SELECT g, 100.0 * twy / tw AS theta,
                      100.0 * (twy - gwy) / (tw - gw) AS theta_g
               FROM per CROSS JOIN tot),
      rb AS (SELECT AVG(theta_g) AS rbar FROM reps)
      SELECT 'overall' AS est, ROUND(theta, 6) AS mean,
             ROUND(SQRT((g - 1.0) / g *
               SUM((theta_g - rbar) * (theta_g - rbar))), 6) AS se_jk,
             CAST(g AS BIGINT) AS n_psu
      FROM reps CROSS JOIN rb
      GROUP BY g, theta
      ORDER BY est""",

    // the explicit 2x2 determinant inverse of the weighted normal
    // equations, then HT + B'(t_pop - t_HT), replayed verbatim
    "m22_greg_calibration" -> """
      WITH frame AS (
        SELECT c_custkey, c_mktsegment AS seg,
               CAST(c_acctbal AS DOUBLE) AS y,
               CAST(c_custkey % 10 AS DOUBLE) AS x
        FROM customer),
      pop AS (
        SELECT seg, CAST(COUNT(*) AS DOUBLE) AS bigN, SUM(x) AS tx
        FROM frame GROUP BY 1),
      samp AS (
        SELECT seg, COUNT(*) AS n_samp,
               CAST(3.0 * COUNT(*) AS DOUBLE) AS sw,
               SUM(3.0 * x) AS swx, SUM(3.0 * x * x) AS swx2,
               SUM(3.0 * y) AS swy, SUM(3.0 * x * y) AS swxy
        FROM frame WHERE c_custkey % 3 = 1 GROUP BY 1),
      d AS (
        SELECT s.*, p.bigN, p.tx,
               s.sw * s.swx2 - s.swx * s.swx AS det
        FROM samp s JOIN pop p USING (seg)),
      b AS (
        SELECT seg, n_samp, sw, swx, swy, bigN, tx,
               (sw * swxy - swx * swy) / det AS b1,
               (swy * swx2 - swx * swxy) / det AS b0
        FROM d)
      SELECT seg, n_samp, ROUND(swy / sw, 6) AS ht_mean,
             ROUND((swy + b0 * (bigN - sw) + b1 * (tx - swx)) / bigN, 6)
               AS greg_mean,
             ROUND(b1, 6) AS b1
      FROM b ORDER BY seg""",

    // same 5x2 cell design, the same Sylvester H8 columns as a literal
    // sign table, Fay factors 1.5/0.5, V = sum((theta_r-theta)^2) /
    // (R (1-rho)^2)
    "m23_brr_fay" -> """
      WITH small AS (
        SELECT n_name AS state,
               CAST(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END
                    AS DOUBLE) AS y,
               1.0 + (o_custkey % 3) AS w
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey),
      per AS (SELECT state, SUM(y * w) AS swy, SUM(w) AS sw
              FROM small GROUP BY state),
      pos AS (SELECT swy, sw,
                     ROW_NUMBER() OVER (ORDER BY state) - 1 AS pos
              FROM per),
      cells AS (SELECT CAST(pos % 5 + 1 AS INT) AS h,
                       CAST((pos // 5) % 2 AS INT) AS psu,
                       SUM(swy) AS swy, SUM(sw) AS sw
                FROM pos GROUP BY 1, 2),
      had AS (SELECT * FROM (VALUES
        (1,1,1),(1,2,1),(1,3,1),(1,4,1),(1,5,1),
        (2,1,-1),(2,2,1),(2,3,-1),(2,4,1),(2,5,-1),
        (3,1,1),(3,2,-1),(3,3,-1),(3,4,1),(3,5,1),
        (4,1,-1),(4,2,-1),(4,3,1),(4,4,1),(4,5,-1),
        (5,1,1),(5,2,1),(5,3,1),(5,4,-1),(5,5,-1),
        (6,1,-1),(6,2,1),(6,3,-1),(6,4,-1),(6,5,1),
        (7,1,1),(7,2,-1),(7,3,-1),(7,4,-1),(7,5,-1),
        (8,1,-1),(8,2,-1),(8,3,1),(8,4,-1),(8,5,1))
        AS t(rep, h, sign)),
      reps AS (
        SELECT had.rep,
               100.0 * SUM(CASE WHEN (c.psu = 0) = (had.sign = 1)
                                THEN 1.5 ELSE 0.5 END * c.swy)
                     / SUM(CASE WHEN (c.psu = 0) = (had.sign = 1)
                                THEN 1.5 ELSE 0.5 END * c.sw) AS theta_r
        FROM cells c JOIN had ON c.h = had.h
        GROUP BY had.rep),
      f0 AS (SELECT 100.0 * SUM(swy) / SUM(sw) AS theta FROM cells)
      SELECT 'overall' AS est, ROUND(theta, 6) AS mean,
             ROUND(SQRT(SUM((theta_r - theta) * (theta_r - theta))
               / (COUNT(*) * 0.25)), 6) AS se_brr,
             COUNT(*) AS n_reps
      FROM reps CROSS JOIN f0
      GROUP BY theta""",

    // m04's variance algebra on the diagonal, literal 0 elsewhere —
    // the independent-design covariance matrix replayed verbatim
    "m20_direct_covmat" -> """
      WITH small AS (
        SELECT n_name AS state,
               CAST(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END
                    AS DOUBLE) AS y,
               1.0 + (o_custkey % 3) AS w
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey),
      agg AS (SELECT state, SUM(y * w) AS swy, SUM(w) AS sw,
                     SUM(w * w * y * y) AS swwyy, SUM(w * w * y) AS swwy,
                     SUM(w * w) AS sww, COUNT(*) AS n
              FROM small GROUP BY state),
      v AS (SELECT state AS area_a,
                   10000 * (n / (n - 1.0))
                     * (swwyy - 2 * (swy / sw) * swwy
                        + (swy / sw) * (swy / sw) * sww) / (sw * sw)
                     AS var_a
            FROM agg)
      SELECT a.area_a, b.area_b,
             ROUND(CASE WHEN a.area_a = b.area_b THEN a.var_a
                        ELSE 0.0 END, 6) AS cov
      FROM v a CROSS JOIN (SELECT area_a AS area_b FROM v) b
      ORDER BY a.area_a, b.area_b""",

    // m04's direct stage rounded first, then the FH chain with the
    // same expressions as Survey.fayHerriot: moment sigma2 via the
    // explicit sum-of-squares identity, GLS intercept, gamma blend
    "m13_fay_herriot" -> """
      WITH small AS (
        SELECT n_name AS state,
               CAST(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END
                    AS DOUBLE) AS y,
               1.0 + (o_custkey % 3) AS w
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey),
      direct AS (
        SELECT state, ROUND(100 * swy / sw, 6) AS mean,
               ROUND(100 * SQRT((n / (n - 1.0))
                 * (swwyy - 2 * (swy / sw) * swwy
                    + (swy / sw) * (swy / sw) * sww) / (sw * sw)), 6) AS se
        FROM (SELECT state, SUM(y * w) AS swy, SUM(w) AS sw,
                     SUM(w * w * y * y) AS swwyy, SUM(w * w * y) AS swwy,
                     SUM(w * w) AS sww, COUNT(*) AS n
              FROM small GROUP BY state)),
      d AS (SELECT state AS area, mean AS theta, se * se AS psi
            FROM direct),
      mom AS (
        SELECT GREATEST(0.0,
                 (stt - st * st / m) / (m - 1.0) - spsi / m) AS sig2
        FROM (SELECT CAST(COUNT(*) AS DOUBLE) AS m, SUM(theta) AS st,
                     SUM(theta * theta) AS stt, SUM(psi) AS spsi
              FROM d)),
      gls AS (
        SELECT SUM(theta / (sig2 + psi)) / SUM(1.0 / (sig2 + psi)) AS beta
        FROM d CROSS JOIN mom)
      SELECT area AS state, ROUND(theta, 6) AS direct,
             ROUND(sig2 / (sig2 + psi), 6) AS gamma,
             ROUND(sig2 / (sig2 + psi) * theta
               + (1.0 - sig2 / (sig2 + psi)) * beta, 6) AS fh,
             ROUND(sig2 / (sig2 + psi) * psi, 6) AS mse1
      FROM d CROSS JOIN mom CROSS JOIN gls
      ORDER BY state"""
  )
}
